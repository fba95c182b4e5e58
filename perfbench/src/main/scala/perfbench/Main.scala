package perfbench

import graft.cells.CellScheme
import graft.geom.{Extent, Geom}
import graft.join.SpatialJoins
import org.apache.spark.perfbenchbridge.ListenerBus
import org.apache.spark.scheduler.SparkListener
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, when}

import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.Try
import scala.util.control.NonFatal

/** Closed-loop spatial-join benchmark: one client sends queries back to back
  * to one `local[cores]` session. Every query reads both inputs fresh from
  * parquet, calls `SpatialJoins.intersectJoin`, and counts the pairs or
  * writes them to parquet. Nothing is cached between queries.
  *
  * An untraced run (`--trace 0`) reports the end-to-end metrics. A traced run
  * (`--trace 1`) sets a job group around each call into the engine, attaches
  * a [[Probe]] listener, reports the per-layer metrics and writes a span
  * dump. Correctness is checked after the cold query, outside any timer.
  *
  * Arguments come in `--key value` pairs; `perfbench/run.py` supplies them.
  * Prints a report line and then the result line, both JSON.
  */
object Main {

  final case class Config(workload: Workload, seed: Long, seconds: Double,
                          trace: Boolean, cores: Int, scale: Double,
                          plantWrongCount: Boolean,
                          workDir: Path, spansOut: Path)

  private def parse(args: Array[String]): Config = {
    require(args.length % 2 == 0, s"arguments must be --key value pairs: ${args.mkString(" ")}")
    val m = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Config(
      workload = Workload.byName(get("workload")),
      seed = get("seed").toLong,
      seconds = get("seconds").toDouble,
      trace = get("trace") == "1",
      cores = get("cores").toInt,
      scale = m.getOrElse("scale", "1").toDouble,
      plantWrongCount = m.getOrElse("plant-wrong-count", "0") == "1",
      workDir = Paths.get(get("work-dir")).toAbsolutePath,
      spansOut = Paths.get(get("spans-out")).toAbsolutePath)
  }

  /** Fixed session settings; printed in the report. */
  private def settings(cfg: Config): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[${cfg.cores}]",
    "spark.sql.shuffle.partitions" -> math.max(cfg.cores, 8).toString,
    // AQE on for runtime skew handling; coalescing off, as in the engine's
    // own bench: it folds the join's partitions into too few tasks
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
    // inputs are scaled down to fit the run length; without this, Spark
    // broadcasts one side of the cell equi-join below ~10 MB and the scaled
    // workloads would leave the shuffled plan their full sizes run on
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> cfg.workDir.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> cfg.workDir.resolve("warehouse").toString)

  private def timed[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** A fixed codegen'd reduction with no IO and no shuffle. Its time is a
    * reading of how much CPU this run got, not a metric.
    */
  private def sentinelS(spark: SparkSession, cores: Int): Double = timed {
    val r = spark.range(0, 1L << 27, 1, cores).selectExpr("sum(id % 1000003)").head().getLong(0)
    require(r == 67023950186877L, s"sentinel reduction returned $r")
  }._1

  /** Queries of each kind run after the cold one and before the measured ones. */
  val WarmupQueries = 2

  /** Set-ups per run; `setup_s` takes their median. */
  val SetupReps = 3

  /** One timed query. `write` picks the pair sink; `traced` the probe. */
  private final case class Sample(query: Int, write: Boolean, traced: Boolean,
                                  seconds: Double, result: Either[String, Long])

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    Files.createDirectories(cfg.workDir)
    val jvmBootS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val t0 = System.nanoTime()
    val (sessionS, spark) = timed {
      val b = SparkSession.builder().appName(s"perfbench-${cfg.workload.name}")
      settings(cfg).foldLeft(b) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    try run(cfg, spark, sessionS, t0, jvmBootS)
    finally spark.stop()
  }

  private def run(cfg: Config, spark: SparkSession, sessionS: Double,
                  t0Session: Long, jvmBootS: Double): Unit = {
    import spark.implicits._
    val sc = spark.sparkContext
    val w = cfg.workload
    val (rowsA, rowsB) = w.rows(cfg.scale)

    // set-up: generate both inputs and write them to parquet, several times
    // so that set-up time is reported as a median
    val genS = (1 to SetupReps).map { r =>
      timed {
        w.inputs(spark, cfg.seed, cfg.scale).write.partitionBy("side")
          .parquet(cfg.workDir.resolve(s"input-$r").toString)
      }._1
    }
    val inputDir = cfg.workDir.resolve(s"input-$SetupReps")
    val pairsDir = cfg.workDir.resolve("pairs").toString
    def readInputs(): (Dataset[Geom], Dataset[Geom]) =
      (spark.read.parquet(inputDir.resolve("side=a").toString).as[Geom],
       spark.read.parquet(inputDir.resolve("side=b").toString).as[Geom])

    val tracer = new Tracer
    var lastQuery = 0

    /** Runs one query; the timer stops when the pairs are counted or written.
      * A written result is counted back from parquet after the timer.
      */
    def attempt(write: Boolean, traced: Boolean): Sample = {
      lastQuery += 1
      val q = lastQuery
      def step[T](name: String, parent: Int)(f: => T): T =
        if (!traced) f
        else tracer.span(name, parent, q) { _ =>
          if (name != "read") sc.setJobGroup(Probe.group(q, name), name, interruptOnCancel = false)
          try f finally sc.clearJobGroup()
        }
      def body(root: Int): Long = {
        val (a, b) = step("read", root)(readInputs())
        val pairs = step("plan", root)(SpatialJoins.intersectJoin(a, b))
        if (write) step("execute", root) { pairs.write.mode("overwrite").parquet(pairsDir); -1L }
        else {
          // what count() runs, built and physically planned first so that
          // the trace tells driver-side planning from stage work
          val counted = step("prepare", root) {
            val c = pairs.groupBy().count()
            c.queryExecution.executedPlan
            c
          }
          step("execute", root)(counted.collect().head.getLong(0))
        }
      }
      try {
        val (s, r) = timed(if (traced) tracer.span("query", 0, q)(body) else body(0))
        val result = if (write) spark.read.parquet(pairsDir).count() else r
        Sample(q, write, traced, s, Right(result))
      } catch {
        case NonFatal(e) => Sample(q, write, traced, Double.NaN, Left(e.toString))
      }
    }

    val tSetup = System.nanoTime()
    // after set-up and a warm-up pass, so that it runs JIT-warm like the one
    // after the queries
    sentinelS(spark, cfg.cores)
    val sentinelBefore = sentinelS(spark, cfg.cores)
    // listeners are attached only while they measure: the probe around each
    // traced query, so that the untraced ones run as in an untraced run, and
    // the peak-memory reader around the measured queries
    val probe = new Probe
    val peak = new PeakMemory
    def listening[T](listener: SparkListener)(f: => T): T = {
      ListenerBus.drain(sc) // so that it sees no events of earlier queries
      sc.addSparkListener(listener)
      try f finally { ListenerBus.drain(sc); sc.removeSparkListener(listener) }
    }

    val cold = attempt(w.writesPairs, traced = false)
    val tCold = System.nanoTime()

    // ---- correctness, outside the timer ------------------------------------
    // The engine's pairs and those of an independent route (the sort-and-
    // sweep reduce on an explicit grid that intersectJoin's sizing never
    // picks), grouped by pair: a correct, exactly-once result has every pair
    // once from each side. A written result is checked as written.
    val check = Try {
      val (a, b) = readInputs()
      val ours =
        if (w.writesPairs) spark.read.parquet(pairsDir)
        else SpatialJoins.intersectJoin(a, b)
      // clamping puts any row outside the generators' map in an edge cell
      val independent = SpatialJoins.gridJoinSweep(a, b,
        CellScheme(Extent(0, 10000, 0, 10000), 97, 89))
      val r = ours.select(col("a_id"), col("b_id"), lit(1).as("ours"))
        .unionByName(independent.select(col("a_id"), col("b_id"), lit(0).as("ours")))
        .groupBy("a_id", "b_id")
        .agg(sum(col("ours")).as("n_ours"), sum(lit(1) - col("ours")).as("n_ind"))
        .agg(sum("n_ours"), sum("n_ind"),
          count(when(col("n_ours") =!= 1 || col("n_ind") =!= 1, lit(1))))
        .head()
      def long(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i) // no pairs at all
      (long(0), long(1), long(2))
    }
    // a check that cannot run fails every query
    val (oursRows, independentRows, mismatchedPairs) = check.getOrElse((-1L, -1L, -1L))
    val (reference, referenceSource) = w.golden(cfg.seed, cfg.scale) match {
      case Some(g) => (g, "golden")
      case None => (independentRows, "gridJoinSweep 97x89")
    }
    val expected = if (cfg.plantWrongCount) reference + 1 else reference
    val tChecks = System.nanoTime()

    // ---- warm queries -------------------------------------------------------
    // a traced run alternates traced and untraced queries so that the
    // tracing overhead is measured under the same conditions; the write
    // workload also runs the count query so the sink's time can be isolated
    val cycle: Seq[(Boolean, Boolean)] =
      if (!cfg.trace) Seq((w.writesPairs, false))
      else Seq((w.writesPairs, true), (w.writesPairs, false)) ++
        (if (w.writesPairs) Seq((false, true)) else Nil)
    // the first queries of each kind after the cold one still run JIT-cold
    // code; they are checked but not timed into the metrics
    val warmup = (1 to WarmupQueries).flatMap(_ => cycle.map(_._1).distinct)
      .map(write => attempt(write, traced = false))
    val warm = mutable.ArrayBuffer.empty[Sample]
    def measure(): Unit = {
      val loopStart = System.nanoTime()
      var reversed = false
      do {
        // alternate the order so neither variant always runs first in a cycle
        (if (reversed) cycle.reverse else cycle).foreach { case (write, traced) =>
          warm += (if (traced) listening(probe)(attempt(write, traced)) else attempt(write, traced))
        }
        reversed = !reversed
      } while ((System.nanoTime() - loopStart) / 1e9 < cfg.seconds)
    }
    if (cfg.trace) measure() else listening(peak)(measure())
    val sentinelAfter = sentinelS(spark, cfg.cores)
    val tQueries = System.nanoTime()

    val all = (cold +: warmup) ++ warm
    def ok(s: Sample): Boolean = mismatchedPairs == 0 && s.result == Right(expected)
    val failed = all.count(s => !ok(s))

    // ---- metrics ------------------------------------------------------------
    def secs(ss: Seq[Sample]) = ss.collect { case s if s.result.isRight => s.seconds }
    def med(ss: Seq[Sample]) = { val v = secs(ss); if (v.isEmpty) Double.NaN else Stats.median(v) }
    val mainUntraced = warm.filter(s => s.write == w.writesPairs && !s.traced).toSeq
    val queryS = med(mainUntraced)
    val setupS = sessionS + Stats.median(genS)
    val mb = 1e6

    val metrics: Seq[(String, Double, String)] =
      if (!cfg.trace) Seq(
        ("query_s", queryS, "s"),
        ("cold_query_s", cold.seconds, "s"),
        ("input_rows_per_s", (rowsA + rowsB) / queryS, "1/s"),
        ("result_rows_per_s", reference / queryS, "1/s"),
        ("setup_s", setupS, "s"),
        ("peak_exec_mem_mb", peak.maxBytes / mb, "MB"))
      else {
        val tracedMain = warm.filter(s => s.traced && s.write == w.writesPairs && s.result.isRight).toSeq
        val layers = tracedMain.map { s =>
          val spans = tracer.spans.filter(_.query == s.query)
          Layers.of(probe, s.query, spans.toSeq)
        }
        def m(f: QueryLayers => Double) = Stats.median(layers.map(f))
        val outputS =
          if (!w.writesPairs) 0.0
          else med(tracedMain) - med(warm.filter(s => s.traced && !s.write).toSeq)
        Seq(
          ("input.read_s", m(_.readS), "s"),
          ("join.plan_s", m(_.planS), "s"),
          ("join.plan_jobs", m(_.planJobs.toDouble), "count"),
          ("join.plan_rows_read", m(_.planRowsRead.toDouble), "count"),
          ("exec.prepare_s", m(_.prepareS), "s"),
          ("cells.map_wall_s", m(_.mapWallS), "s"),
          ("cells.map_task_s", m(_.mapTaskS), "s"),
          ("cells.replication", m(_.mapShuffleRecords.toDouble) / (rowsA + rowsB), "ratio"),
          ("exchange.write_mb", m(_.exchangeWriteBytes / mb), "MB"),
          ("exchange.fetch_wait_s", m(_.fetchWaitS), "s"),
          ("join.reduce_wall_s", m(_.reduceWallS), "s"),
          ("join.reduce_task_s", m(_.reduceTaskS), "s"),
          ("join.reduce_skew", m(_.reduceSkew), "ratio"),
          ("join.reduce_spill_mb", m(_.reduceSpillBytes / mb), "MB"),
          ("output.s", outputS, "s"),
          ("output.write_mb", m(_.outputBytes / mb), "MB"),
          ("ingest.gen_s", Stats.median(genS), "s"),
          ("jvm.gc_s", m(_.gcS), "s"),
          ("trace.layer_cover", m(_.layerCover), "ratio"),
          ("trace.overhead_frac", med(tracedMain) / queryS - 1.0, "ratio"))
      }

    if (cfg.trace) writeSpans(cfg, tracer, probe)

    val (seedA, seedB) = w.generatorSeeds(cfg.seed)
    val report = ListMap(
      "workload" -> w.name,
      "seed" -> cfg.seed,
      "generator_seeds" -> Seq(seedA, seedB),
      "rows" -> Seq(rowsA, rowsB),
      "trace" -> cfg.trace,
      "settings" -> ListMap(settings(cfg).filterNot(_._1.endsWith(".dir")): _*),
      "session_start_s" -> sessionS,
      "phase_s" -> ListMap("jvm_boot" -> jvmBootS, "setup" -> (tSetup - t0Session) / 1e9,
        "cold" -> (tCold - tSetup) / 1e9, "checks" -> (tChecks - tCold) / 1e9,
        "queries" -> (tQueries - tChecks) / 1e9),
      "gen_write_s" -> genS,
      "sentinel_s" -> ListMap("before" -> sentinelBefore, "after" -> sentinelAfter),
      "reference" -> ListMap("count" -> reference, "source" -> referenceSource),
      "check" -> ListMap("rows" -> oursRows, "independent_rows" -> independentRows,
        "mismatched_pairs" -> mismatchedPairs, "error" -> check.failed.toOption.map(_.toString)),
      "failed_frac" -> failed.toDouble / all.size,
      "warmup_queries" -> WarmupQueries,
      "queries" -> all.map(s => ListMap("q" -> s.query, "write" -> s.write, "traced" -> s.traced,
        "seconds" -> s.seconds, "result" -> s.result.fold(e => e, r => r), "ok" -> ok(s))))
    println(Json.render(ListMap("report" -> report)))
    println(Json.render(ListMap(
      "correct" -> (failed == 0),
      "attempted" -> all.size,
      "failed" -> failed,
      "metrics" -> ListMap(metrics.map { case (k, v, u) => k -> ListMap("value" -> v, "unit" -> u) }: _*))))
  }

  /** Writes the traced run's span dump with each span's self time, and the
    * self time summed per span kind.
    */
  private def writeSpans(cfg: Config, tracer: Tracer, probe: Probe): Unit = {
    val groupSpan = tracer.spans.collect {
      case s if s.name == "plan" || s.name == "execute" => Probe.group(s.query, s.name) -> (s.id, s.query)
    }.toMap
    val spans = Layers.spanDump(tracer, probe, groupSpan)
    val self = Layers.selfTimesMs(spans)
    def kind(s: Span) = s.name.split(' ').filterNot(_.forall(_.isDigit)).mkString(" ")
    val byKind = spans.groupBy(kind).map { case (k, ss) => k -> ss.map(s => self(s.id)).sum }
    val doc = ListMap(
      "workload" -> cfg.workload.name,
      "seed" -> cfg.seed,
      "spans" -> spans.map(s => ListMap("id" -> s.id, "name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "parent" -> s.parent, "query" -> s.query, "self_ms" -> self(s.id),
        "counts" -> ListMap(s.counts: _*))),
      "self_ms_by_kind" -> ListMap(byKind.toSeq.sortBy(_._1): _*))
    Files.createDirectories(cfg.spansOut.getParent)
    Files.writeString(cfg.spansOut, Json.render(doc) + "\n")
  }
}
