package graft.perfbench

import java.nio.file.Paths
import scala.collection.mutable

import org.apache.spark.perfbench.BusBridge
import org.apache.spark.sql.SparkSession

/** Closed-loop, single-caller benchmark driver: one iteration at a time,
  * the next only after the previous one has returned and been checked.
  *
  *   --kind export|graph --data DIR --work DIR --seconds N --trace 0|1
  *   --rows table=n,... --setup-start-ms EPOCH_MS --cores N --ref FILE
  *
  * Prints one JSON object on its last stdout line. */
object Main {

  /** Spans reported with `--trace 1`, in the order they are printed. */
  val SpanNames: Seq[String] = Seq("model.load", "model.unified_edges", "export.write",
    "export.csv", "export.sniff", "export.zip", "export.import", "ops.pagerank", "ops.lpa",
    "ops.sssp", "ops.mis", "ops.betweenness")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val kind = args("kind")
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cores = args("cores").toInt
    val work = Paths.get(args("work"))
    val inputRows = args("rows").split(",").map { kv =>
      val Array(k, v) = kv.split("="); k -> v.toLong }.toMap

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val totals = new Totals
    sc.addSparkListener(totals)
    val jobTrace = new JobTrace
    if (traced) sc.addSparkListener(jobTrace)
    val heap = new OldGenPeak

    val workload: Workload = kind match {
      case "export" => new ExportWorkload(args("data"), work, inputRows)
      case "graph" => new GraphWorkload(args("data"), Paths.get(args("ref")))
    }

    def hygiene(): Unit = {
      workload.cleanUp()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      graft.queries.PipelineQueries.invalidateCheckpointedMemos()
      System.gc()
    }

    // Set-up: session, one untimed warm-up iteration.
    val off = new Spans(sc, enabled = false)
    val warmUp = workload.iteration(spark, off)
    hygiene()
    val setupS = (System.currentTimeMillis() - args("setup-start-ms").toLong) / 1000.0
    workload.prepareReference(spark, warmUp)
    hygiene()

    var attempted = 0L
    var failed = 0L
    val walls = mutable.ArrayBuffer.empty[Double]
    val tracedWalls = mutable.ArrayBuffer.empty[Double]
    val cpu, shuffle, spill, heapPeak = mutable.ArrayBuffer.empty[Double]
    val layer = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val opsPerIteration = workload match { case g: GraphWorkload => g.ops.size; case _ => 1 }

    def runOne(spans: Spans): Unit = {
      spans.clear()
      BusBridge.drain(sc)
      if (spans.enabled) jobTrace.take()
      val before = totals.snapshot
      heap.reset()
      val t0 = System.nanoTime()
      val out = try Right(workload.iteration(spark, spans)) catch { case t: Throwable => Left(t) }
      val wall = (System.nanoTime() - t0) / 1e9
      BusBridge.drain(sc)
      val after = totals.snapshot
      attempted += opsPerIteration
      val problems = out match {
        case Right(o) => workload.verify(o)
        case Left(t) => Seq(s"iteration threw ${t.getClass.getName}: ${t.getMessage}")
      }
      problems.foreach(p => System.err.println(s"[perfbench] FAILED: $p"))
      System.err.println(f"[perfbench] iteration ${walls.size + tracedWalls.size + 1} " +
        f"traced=${spans.enabled} wall=$wall%.3f s")
      // an iteration that throws loses all its operations
      failed += (if (out.isLeft) opsPerIteration else math.min(problems.size, opsPerIteration))
      if (spans.enabled) {
        tracedWalls += wall
        Layers.record(SpanNames, spans.recorded.toSeq, jobTrace.take(), wall, layer)
        val (zipIn, zipOut) = workload match {
          case e: ExportWorkload if out.isRight => (e.packageInputBytes, e.packageBytes)
          case _ => (0L, 0L)
        }
        layer.getOrElseUpdate("export.zip.in_bytes", mutable.ArrayBuffer.empty) += zipIn.toDouble
        layer.getOrElseUpdate("export.zip.out_bytes", mutable.ArrayBuffer.empty) += zipOut.toDouble
      } else {
        walls += wall
        cpu += (after._1 - before._1) / 1e9
        shuffle += (after._2 - before._2).toDouble
        spill += (after._3 - before._3).toDouble
        heapPeak += heap.peakOrCurrent.toDouble
      }
      hygiene()
    }

    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    // With tracing on, every traced iteration sits between two untraced
    // ones, so the trace overhead is measured in the same process and a
    // drift in iteration time does not count as overhead.
    runOne(off)
    do {
      if (traced) runOne(new Spans(sc, enabled = true))
      runOne(off)
    } while (elapsed < seconds)

    val wallS = Stats.median(walls)
    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setupS, "s"),
        ("wall_s", wallS, "s"),
        ("rows_per_s", workload.rowsPerIteration / wallS, "1/s"),
        ("cpu_s", Stats.median(cpu), "s"),
        ("shuffle_bytes", Stats.median(shuffle), "bytes"),
        ("driver_heap_peak_bytes", Stats.median(heapPeak), "bytes"))
      else {
        val overhead = Stats.median(tracedWalls) - wallS
        Layers.metricOrder(SpanNames).map(n => (n._1, Stats.median(layer.getOrElse(n._1, Nil)), n._2)) ++
          Seq(("export.zip.in_bytes", Stats.median(layer("export.zip.in_bytes")), "bytes"),
            ("export.zip.out_bytes", Stats.median(layer("export.zip.out_bytes")), "bytes"),
            ("iteration.unattributed_s", Stats.median(layer("iteration.unattributed_s")), "s"),
            ("iteration.spill_bytes", Stats.median(spill), "bytes"),
            ("trace.overhead_s", overhead, "s"),
            ("trace.overhead_frac", overhead / wallS, "ratio"))
      }

    val edgeRows = workload match { case g: GraphWorkload => g.directedEdgeRows; case _ => 0L }
    val detail = Map(
      "kind" -> kind, "cores" -> cores.toString,
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory.toString,
      "iterations" -> walls.size.toString, "traced_iterations" -> tracedWalls.size.toString,
      "input_rows" -> inputRows.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(","),
      "directed_edge_rows" -> edgeRows.toString,
      "edge_rows_over_local_caps" -> Caps.ratios(edgeRows))
    println("[perfbench] " + detail.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" "))
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${Json.num(v)}, "unit": "$u"}""" }.mkString(", ")
    spark.stop()
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }
}

object Stats {
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toSeq.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** The driver-local caps the graph operators gate on. */
object Caps {
  def ratios(edgeRows: Long): String = Seq(
    "bc" -> graft.operators.Betweenness.BcLocalStateCap,
    "mis" -> graft.operators.Mis.MisLocalStateCap,
    "sssp" -> graft.operators.GraphAnalytics.SsspLocalStateCap)
    .map { case (k, cap) => f"$k:${edgeRows.toDouble / cap}%.3f" }.mkString(",")
}

/** Per-span figures of one traced iteration. */
object Layers {
  val Metrics: Seq[(String, String)] = Seq("wall_s" -> "s", "self_s" -> "s", "jobs" -> "count",
    "tasks" -> "count", "cpu_s" -> "s", "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "driver_only_s" -> "s", "output_bytes" -> "bytes", "task_skew" -> "ratio")

  def metricOrder(spans: Seq[String]): Seq[(String, String)] =
    for (s <- spans; (m, u) <- Metrics) yield (s"$s.$m", u)

  def record(spanNames: Seq[String], spans: Seq[(String, Interval)], jobs: Seq[JobRec],
      iterationWall: Double, into: mutable.Map[String, mutable.ArrayBuffer[Double]]): Unit = {
    def put(k: String, v: Double): Unit = into.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    val byName = spans.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    // export.write's jobs split by call site: the one-row sample sniffs
    // and the CSV writes
    def jobsOf(span: String): Seq[JobRec] = span match {
      case "export.csv" => jobs.filter(j => j.span == "export.write" && !j.sniff)
      case "export.sniff" => jobs.filter(j => j.span == "export.write" && j.sniff)
      case s => jobs.filter(_.span == s)
    }
    def jobInterval(j: JobRec) = Interval(j.startMs, if (j.endMs < 0) j.startMs else j.endMs)
    spanNames.foreach { s =>
      val js = jobsOf(s)
      val intervals = byName.getOrElse(s, Nil)
      val everywhere = Interval(Double.MinValue, Double.MaxValue)
      val (wall, busy) =
        if (s == "export.csv" || s == "export.sniff") {
          val u = Intervals.unionSeconds(js.map(jobInterval), everywhere)
          (u, u)
        } else (intervals.map(_.seconds).sum,
          intervals.map(i => Intervals.unionSeconds(js.map(jobInterval), i)).sum)
      val children = s match {
        case "export.write" => Intervals.unionSeconds(js.map(jobInterval), everywhere)
        case _ => 0.0
      }
      val taskMs = js.flatMap(_.taskMs).map(_.toDouble)
      val med = Stats.median(taskMs)
      put(s"$s.wall_s", wall)
      put(s"$s.self_s", math.max(0.0, wall - children))
      put(s"$s.jobs", js.size.toDouble)
      put(s"$s.tasks", js.map(_.tasks).sum.toDouble)
      put(s"$s.cpu_s", js.map(_.cpuNs).sum / 1e9)
      put(s"$s.shuffle_bytes", js.map(_.shuffleBytes).sum.toDouble)
      put(s"$s.spill_bytes", js.map(_.spillBytes).sum.toDouble)
      put(s"$s.driver_only_s", math.max(0.0, wall - busy))
      put(s"$s.output_bytes", js.map(_.outputBytes).sum.toDouble)
      put(s"$s.task_skew", if (med > 0) taskMs.max / med else 0.0)
    }
    val top = spans.map(_._2.seconds).sum
    put("iteration.unattributed_s", iterationWall - top)
  }
}
