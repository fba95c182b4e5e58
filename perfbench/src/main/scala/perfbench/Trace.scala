package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed interval of the span dump, in epoch milliseconds. `parent` is
  * the id of the enclosing span (0 for a root) and `query` the benchmark
  * query it belongs to (0 outside any query).
  */
final case class Span(id: Int, name: String, startMs: Double, endMs: Double,
                      parent: Int, query: Int, counts: Seq[(String, Long)] = Nil) {
  def durMs: Double = endMs - startMs
}

/** Spans around the benchmark's own calls into the engine, kept in memory. */
final class Tracer {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private var lastId = 0
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty

  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def nextId(): Int = { lastId += 1; lastId }

  /** Runs `f` with the new span's id and records the span when `f` returns
    * or throws.
    */
  def span[T](name: String, parent: Int, query: Int)(f: Int => T): T = {
    val id = nextId()
    val t0 = nowMs()
    try f(id)
    finally spans += Span(id, name, t0, nowMs(), parent, query)
  }
}

/** Task metrics of one stage, summed over its tasks. */
final class StageStats(val stageId: Int, val jobId: Int) {
  var submitMs = 0L
  var completeMs = 0L
  val taskRunMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  var inputRecords = 0L
  var shuffleWriteRecords = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadRecords = 0L
  var fetchWaitMs = 0L
  var gcMs = 0L
  var diskSpillBytes = 0L
  var outputBytes = 0L

  def runMs: Long = taskRunMs.sum
  /** A map-side stage re-emits its rows into a shuffle (one or more records
    * per row read); a join or result stage emits far fewer, if any.
    */
  def isMapSide: Boolean =
    shuffleWriteRecords > 0 && 2 * shuffleWriteRecords >= inputRecords + shuffleReadRecords
}

final case class JobRec(jobId: Int, group: String, startMs: Long, var endMs: Long)

/** Listener that files every job under the job group the benchmark set, and
  * sums task metrics per stage. Jobs outside a benchmark group are ignored.
  */
final class Probe extends SparkListener {
  val jobs: mutable.LinkedHashMap[Int, JobRec] = mutable.LinkedHashMap.empty
  val stages: mutable.LinkedHashMap[Int, StageStats] = mutable.LinkedHashMap.empty

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (group != null && group.startsWith(Probe.Prefix)) {
      jobs(e.jobId) = JobRec(e.jobId, group, e.time, -1L)
      e.stageIds.foreach(s => if (!stages.contains(s)) stages(s) = new StageStats(s, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.submitMs = e.stageInfo.submissionTime.getOrElse(0L)
      s.completeMs = e.stageInfo.completionTime.getOrElse(0L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stages.get(e.stageId).foreach { s =>
      s.taskRunMs += m.executorRunTime
      s.inputRecords += m.inputMetrics.recordsRead
      s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.gcMs += m.jvmGCTime
      s.diskSpillBytes += m.diskBytesSpilled
      s.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Stages that ran (submitted and completed) in jobs of `group`. */
  def stagesOf(group: String): Seq[StageStats] = synchronized {
    val ids = jobs.valuesIterator.filter(_.group == group).map(_.jobId).toSet
    stages.valuesIterator.filter(s => ids(s.jobId) && s.completeMs > 0).toVector
  }

  def jobsOf(group: String): Seq[JobRec] = synchronized {
    jobs.valuesIterator.filter(_.group == group).toVector
  }
}

object Probe {
  val Prefix = "perfbench:"
  def group(query: Int, layer: String): String = s"${Prefix}q$query:$layer"
}

/** The only listener of an untraced run: the largest task
  * `peakExecutionMemory` seen while it is attached.
  */
final class PeakMemory extends SparkListener {
  @volatile var maxBytes = 0L
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null)
      maxBytes = math.max(maxBytes, e.taskMetrics.peakExecutionMemory)
}

/** Layer figures of one traced query, derived from its spans and stages. */
final case class QueryLayers(readS: Double, planS: Double, planJobs: Int,
                             planRowsRead: Long, prepareS: Double,
                             mapWallS: Double, mapTaskS: Double,
                             mapShuffleRecords: Long, exchangeWriteBytes: Long,
                             fetchWaitS: Double, reduceWallS: Double,
                             reduceTaskS: Double, reduceSkew: Double,
                             reduceSpillBytes: Long, outputBytes: Long,
                             gcS: Double, layerCover: Double)

object Layers {

  /** Length of the union of intervals, clipped to `[lo, hi]`. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  private def wallS(ss: Seq[StageStats]): Double =
    covered(ss.map(s => (s.submitMs.toDouble, s.completeMs.toDouble)),
      Double.MinValue, Double.MaxValue) / 1e3

  private def median(xs: Seq[Long]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs.map(_.toDouble))

  /** Splits one query into layers. `spans` are the benchmark spans of the
    * query: the root `query`, then `read`, `plan`, `prepare` (count queries
    * only) and `execute`.
    *
    * The layer cover counts the driver-side calls that are layers of their
    * own (`read`, `plan`, `prepare`) and the stages of the execute jobs. It
    * leaves out the rest of the `execute` call: Spark's planning and
    * re-planning inside the action, and the write's commit.
    */
  def of(probe: Probe, queryId: Int, spans: Seq[Span]): QueryLayers = {
    def dur(name: String) = spans.find(_.name == name).fold(0.0)(_.durMs / 1e3)
    val query = spans.find(_.name == "query").get
    val calls = spans.filter(s => Set("read", "plan", "prepare")(s.name))
    val planStages = probe.stagesOf(Probe.group(queryId, "plan"))
    val exec = probe.stagesOf(Probe.group(queryId, "execute"))
    val (map, reduce) = exec.partition(_.isMapSide)
    // the skew signal is read off the reduce stage that did the most work
    val heaviest = if (reduce.isEmpty) None else Some(reduce.maxBy(_.runMs))
    val skew = heaviest.filter(_.taskRunMs.nonEmpty).map { s =>
      val med = median(s.taskRunMs.toSeq)
      if (med > 0) s.taskRunMs.max / med else 1.0
    }.getOrElse(1.0)
    val all = planStages ++ exec
    val cover = covered(
      calls.map(c => (c.startMs, c.endMs)) ++
        exec.map(s => (s.submitMs.toDouble, s.completeMs.toDouble)),
      query.startMs, query.endMs) / query.durMs
    QueryLayers(
      readS = dur("read"),
      planS = dur("plan"),
      planJobs = probe.jobsOf(Probe.group(queryId, "plan")).size,
      planRowsRead = planStages.map(_.inputRecords).sum,
      prepareS = dur("prepare"),
      mapWallS = wallS(map),
      mapTaskS = map.map(_.runMs).sum / 1e3,
      mapShuffleRecords = map.map(_.shuffleWriteRecords).sum,
      exchangeWriteBytes = exec.map(_.shuffleWriteBytes).sum,
      fetchWaitS = exec.map(_.fetchWaitMs).sum / 1e3,
      reduceWallS = wallS(reduce),
      reduceTaskS = reduce.map(_.runMs).sum / 1e3,
      reduceSkew = skew,
      reduceSpillBytes = all.map(_.diskSpillBytes).sum,
      outputBytes = exec.map(_.outputBytes).sum,
      gcS = all.map(_.gcMs).sum / 1e3,
      layerCover = cover)
  }

  /** The span dump: benchmark spans plus the probe's jobs and stages, each
    * job under the benchmark span of its group and each stage under its job.
    * `groupSpan` maps a job group to that span's (id, query).
    */
  def spanDump(tracer: Tracer, probe: Probe,
               groupSpan: Map[String, (Int, Int)]): Seq[Span] = {
    val jobSpans = probe.synchronized {
      probe.jobs.valuesIterator.flatMap { j =>
        groupSpan.get(j.group).map { case (parent, q) =>
          j.jobId -> Span(tracer.nextId(), s"job ${j.jobId}", j.startMs.toDouble,
            math.max(j.endMs, j.startMs).toDouble, parent, q)
        }
      }.toMap
    }
    val stageSpans = probe.synchronized {
      probe.stages.valuesIterator.filter(_.completeMs > 0).flatMap { s =>
        jobSpans.get(s.jobId).map { j =>
          val kind =
            if (probe.jobs(s.jobId).group.endsWith(":plan")) "plan"
            else if (s.isMapSide) "map" else "reduce"
          Span(tracer.nextId(), s"stage ${s.stageId} $kind", s.submitMs.toDouble,
            s.completeMs.toDouble, j.id, j.query, Seq(
              "tasks" -> s.taskRunMs.size.toLong, "task_ms" -> s.runMs,
              "input_records" -> s.inputRecords,
              "shuffle_read_records" -> s.shuffleReadRecords,
              "shuffle_write_records" -> s.shuffleWriteRecords,
              "shuffle_write_bytes" -> s.shuffleWriteBytes,
              "output_bytes" -> s.outputBytes))
        }
      }.toVector
    }
    tracer.spans.toVector ++ jobSpans.values.toVector.sortBy(_.id) ++ stageSpans
  }

  /** Self time of each span: its duration minus the part its children cover. */
  def selfTimesMs(spans: Seq[Span]): Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      s.id -> (s.durMs - covered(kids, s.startMs, s.endMs))
    }.toMap
  }
}
