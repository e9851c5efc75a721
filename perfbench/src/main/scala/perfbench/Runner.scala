package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** Set-up repetitions, the closed measurement loop and the metrics of one
  * run (see [[Main]]). */
final class Runner(o: Main.Opts, wl: Workload) {
  private val tr = new Tracer(false, s"${o.workload}-seed${o.seed}-pid${ProcessHandle.current.pid}")
  private val heap = new LiveHeap
  private val counters = new EngineCounters
  private val plan = new PlanPhases
  private var spark: SparkSession = _

  private val prepWalls = mutable.ArrayBuffer.empty[Double]
  private var warmupWall = 0.0
  private var timedSeconds = 0.0
  private val untracedWalls = mutable.ArrayBuffer.empty[Double]
  private val tracedWalls = mutable.ArrayBuffer.empty[Double]
  private val tracedUnits = mutable.ArrayBuffer.empty[Span]
  private val errors = mutable.ArrayBuffer.empty[String]
  private var attempted, failed = 0
  private var quality: Checked = _

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Session start and input generation, each time in a fresh session;
    * then the warm-up in the last session. The median of the repetitions
    * keeps set-up time steady (the first one also pays for JVM start-up). */
  private def setUp(): Unit = {
    for (rep <- 1 to (if (o.trace) 1 else 3)) {
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = Main.session(o.work)
      tr.bind(spark.sparkContext)
      wl.prepare(spark, s"${o.work}/setup$rep")
      prepWalls += (System.nanoTime() - t0) / 1e9
      if (rep > 1) Main.deleteRecursively(new java.io.File(s"${o.work}/setup${rep - 1}"))
    }
    val t0 = System.nanoTime()
    wl.warmup(spark, tr)
    Main.release(spark)
    warmupWall = (System.nanoTime() - t0) / 1e9
    System.err.println(s"[perfbench] set-ups ${prepWalls.mkString(" ")} s, warm-up $warmupWall s")
  }

  /** One timed unit, then (untimed) its check and the release of its blocks. */
  private def once(k: Int, traced: Boolean): Unit = {
    attempted += wl.attemptsPerUnit
    var unitSpan: Option[Span] = None
    val t0 = System.nanoTime()
    val out = Try(tr.span("unit") {
      unitSpan = tr.spans.lastOption.filter(_ => tr.enabled)
      wl.unit(spark, tr, traced)
    })
    val wall = (System.nanoTime() - t0) / 1e9
    timedSeconds += wall
    val checked = out.flatMap(res => Try(tr.span("check") {
      heap.collectNow()
      wl.check(spark, res)
    }))
    val released = Try(tr.span("release")(Main.release(spark)))
    checked.flatMap(_ => released) match {
      case Success(_) =>
        (if (traced) tracedWalls else untracedWalls) += wall
        unitSpan.foreach(tracedUnits += _)
      case Failure(e) =>
        failed += wl.attemptsPerUnit
        errors += s"unit $k: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        e.printStackTrace()
    }
  }

  /** Seconds since this process started. */
  private def uptime: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** Whether a unit may start: until their walls add up to `seconds`
    * (checks and releases between them are not counted) and at least
    * `Runner.MinUnits` have run, while no unit has failed and the time
    * budget is not spent. A run over budget keeps the units it has. */
  private def more(k: Int): Boolean =
    failed == 0 && (k < Runner.MinUnits || timedSeconds < o.seconds) &&
      (k == 0 || uptime < o.budget)

  /** Timed units: in an untraced run, a closed loop; in a traced run,
    * alternating untraced and traced units, at least two pairs, so the two
    * medians give the tracing overhead. The first failure ends the loop. */
  private def measure(): Unit = {
    var k = 0
    if (!o.trace)
      while (more(k)) { k += 1; once(k, traced = false) }
    else {
      do {
        k += 1; once(k, traced = false)
        k += 1; withTracing(once(k, traced = true))
      } while (more(k))
      withTracing {
        Try(tr.span("after_traced")(wl.afterTraced(spark, tr))).failed.foreach { e =>
          errors += s"after traced units: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
          e.printStackTrace()
        }
      }
    }
    if (uptime >= o.budget)
      System.err.println(s"[perfbench] time budget of ${o.budget} s spent after $k units")
  }

  /** Runs `body` with spans on and the engine listeners attached. */
  private def withTracing(body: => Unit): Unit = {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(plan)
    tr.enabled = true
    try body
    finally {
      tr.enabled = false
      PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(counters)
      spark.listenerManager.unregister(plan)
    }
  }

  /** Innermost span in the traced units that contains each planned query. */
  private def attributePlans(): Seq[(Span, Double)] = {
    val inUnits = tracedUnits.toSeq.flatMap(u => tr.subtree(u.id))
    plan.phases.toArray(Array.empty[(Long, Double)]).toSeq.flatMap { case (ms, d) =>
      inUnits.filter(s => s.startMs <= ms && ms <= s.endMs).sortBy(-_.start).headOption.map(_ -> d)
    }
  }

  private def layerMetrics(): Map[String, Double] = {
    val u = tracedUnits.size.toDouble
    val allSpans = tr.spans
    val attributed = Layers.counts(counters, allSpans)
    val unattributed = Option(counters.bySpan.get(0)).map(_.tasks).getOrElse(0L)
    require(unattributed == 0 && attributed.sameAs(counters.total),
      s"span attribution incomplete: $unattributed tasks without a span, " +
        s"${attributed.tasks} attributed of ${counters.total.tasks}; jobs without a span from " +
        counters.unattributed.distinct.take(5).mkString(", "))
    val c = Layers.counts(counters, tracedUnits.toSeq.flatMap(s => tr.subtree(s.id)))
    val tracedWall = median(tracedWalls.toSeq)
    val engine = Map(
      "spark.jobs" -> c.jobs / u, "spark.stages" -> c.stages / u, "spark.tasks" -> c.tasks / u,
      "spark.task_run_s" -> c.runMs / 1e3 / u, "spark.task_cpu_s" -> c.cpuNs / 1e9 / u,
      "spark.gc_s" -> c.gcMs / 1e3 / u,
      "spark.shuffle_read_mb" -> c.shuffleReadBytes / Layers.MB / u,
      "spark.shuffle_write_mb" -> c.shuffleWriteBytes / Layers.MB / u,
      "spark.spill_mb" -> c.spillBytes / Layers.MB / u,
      "spark.cpu_busy_ratio" -> c.cpuNs / 1e9 / u / (tracedWalls.sum / u * Main.Cores))
    val untraced = median(untracedWalls.toSeq)
    Layers.zeros ++ engine ++ wl.layerMetrics(tr, counters, tracedUnits.toSeq, attributePlans()) ++ Map(
      "trace.untraced_wall_s" -> untraced,
      "trace.traced_wall_s" -> tracedWall,
      "trace.overhead_ratio" -> (tracedWall / untraced - 1.0),
      "fail_ratio" -> failed.toDouble / attempted)
  }

  def run(): String = {
    val setupOk = Try(setUp())
    setupOk.failed.foreach { e =>
      errors += s"set-up: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
      e.printStackTrace()
    }
    if (setupOk.isSuccess) measure()
    if (untracedWalls.nonEmpty) Try(wl.quality(spark)) match {
      case Success(q) => quality = q
      case Failure(e) =>
        errors += s"quality: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        e.printStackTrace()
    }
    val metrics: Map[String, Double] =
      if (setupOk.isFailure || untracedWalls.isEmpty || quality == null) Map.empty
      else if (!o.trace) {
        val wall = median(untracedWalls.toSeq)
        Map("setup_s" -> (median(prepWalls.toSeq) + warmupWall), "wall_s" -> wall,
          "items_per_s" -> wl.items / wall,
          "dup_pair_recall" -> quality.recall, "dup_pair_precision" -> quality.precision,
          "peak_heap_mb" -> heap.peakBytes / Layers.MB)
      } else Try(layerMetrics()) match {
        case Success(m) => m
        case Failure(e) => errors += e.getMessage; Map.empty
      }
    if (o.trace) Files.write(Paths.get(s"${o.work}/spans.jsonl"),
      tr.toJsonLines(counters).mkString("", "\n", "\n").getBytes)
    if (spark != null) spark.stop()
    val settings = wl.settings ++ Map(
      "cores" -> Main.Cores.toString,
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1L << 20)).toString,
      "shuffle_partitions" -> Main.Cores.toString,
      "setups" -> prepWalls.size.toString,
      "isolation" -> ("fresh session per set-up; between units every persisted RDD " +
        "(localCheckpoint blocks included) is unpersisted and a full GC lets the context " +
        "cleaner drop shuffles and broadcasts"))
    Json.obj(Seq(
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "errors" -> errors.map(Json.str).mkString("[", ",", "]"),
      "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "setup_walls" -> prepWalls.map(Json.num).mkString("[", ",", "]"),
      "warmup_s" -> Json.num(warmupWall),
      "walls" -> untracedWalls.map(Json.num).mkString("[", ",", "]"),
      "traced_walls" -> tracedWalls.map(Json.num).mkString("[", ",", "]"),
      "settings" -> Json.obj(settings.toSeq.sorted.map { case (k, v) => k -> Json.str(v) })))
  }
}

object Runner {
  /** Fewest timed units of an untraced run; their median is the metric. */
  val MinUnits = 3
}
