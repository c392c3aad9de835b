package lakebench

import java.io.File
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import graft.sources.{Ingest, Medallion, Tables}

/** Per-op context handed to an op body: marks the op's build/exec (or
  * TxLog verb) phases as child spans and parents Spark jobs to them. */
final class OpCtx(tr: Tracer, sc: SparkContext, val op: Long) {
  var build = 0.0
  var exec = 0.0
  def phase[T](name: String)(f: => T): T = {
    val id = tr.newId()
    sc.setLocalProperty(Props.Span, id.toString)
    val s = tr.now()
    try f finally {
      val e = tr.now()
      tr.span(id, op, op, name, s, e)
      tr.count(name)
      if (name == "build") build += e - s else exec += e - s
      sc.setLocalProperty(Props.Span, op.toString)
    }
  }
}

/** Setup (repeated, median reported), timed closed-loop phase, untimed
  * verification, then metrics. */
final class Run(c: LakeBench.Conf, w: Workload) {
  type Op = (String, OpCtx => Unit)
  private val tr = new Tracer
  private var spark: SparkSession = _
  private var jobs: JobProbe = _
  private var plans: PlanProbe = _
  private var streams: StreamProbe = _
  private val ops = mutable.ArrayBuffer.empty[OpRec]
  private val errors = mutable.LinkedHashMap.empty[String, String]

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${c.work}/spark-warehouse")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    if (c.trace) {
      streams = new StreamProbe(tr)
      s.streams.addListener(streams)
      jobs = new JobProbe(tr)
      s.sparkContext.addSparkListener(jobs)
      plans = new PlanProbe(tr)
      s.listenerManager.register(plans)
    }
    s
  }

  private def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(): Unit
  }

  /** Every run starts from the same disk state. */
  private def clearDirs(): Unit =
    (Seq(Ingest.fixtureDir(c.data), Medallion.warehouseRoot(c.data),
      s"${c.work}/spark-warehouse", s"${c.work}/verify") ++ w.scratchDirs)
      .foreach(p => rm(new File(p)))

  private def drain(): Unit = org.apache.spark.LakeBenchBus.drain(spark.sparkContext)

  private def runOp(pass: Int, traced: Boolean, into: mutable.Buffer[OpRec] = ops)(op: Op): Unit = {
    val (name, body) = op
    val sc = spark.sparkContext
    val id = tr.newId()
    sc.setLocalProperty(Props.Op, id.toString)
    sc.setLocalProperty(Props.Span, id.toString)
    val ctx = new OpCtx(tr, sc, id)
    val s = tr.now()
    val ok = try { body(ctx); true } catch {
      case e: Throwable =>
        errors.getOrElseUpdate(name, Option(e.getMessage).getOrElse(e.toString).take(300))
        false
    }
    val e = tr.now()
    sc.setLocalProperty(Props.Op, null)
    sc.setLocalProperty(Props.Span, null)
    tr.span(id, 0L, id, name, s, e)
    tr.count("op")
    into += OpRec(id, name, s, e, ctx.build, ctx.exec, ok, traced)
    log(f"op $name pass=$pass wall=${e - s}%.3f ok=$ok")
  }

  private def log(msg: String): Unit = println(f"[lakebench ${tr.now()}%.3f] $msg")

  def execute(): Map[String, Any] = {
    // --- setup: session start, disk reset, warm pass
    val setupS = mutable.ArrayBuffer.empty[Double]
    for (i <- 0 until c.setups) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = tr.now()
      spark = session()
      clearDirs()
      w.reset(spark, i)
      (w.pass(spark, -1 - i) ++ w.finish(spark)).foreach { case (name, body) =>
        val s = tr.now()
        try body(new OpCtx(tr, spark.sparkContext, 0L)) catch {
          case e: Throwable =>
            errors.getOrElseUpdate(name, Option(e.getMessage).getOrElse(e.toString).take(300))
        }
        log(f"warm $name ${tr.now() - s}%.3f")
      }
      setupS += tr.now() - t0
      log(s"setup $i done in ${setupS.last}")
    }
    w.reset(spark, c.setups)

    // --- timed phase: a fixed number of whole passes, so every run does
    // the same work; a traced run alternates traced and untraced passes
    // to measure tracing overhead
    val passes = math.max(if (c.trace) 2 else 1, math.round(c.seconds / w.passSeconds).toInt)
    val t0 = tr.now()
    for (p <- 0 until passes) {
      val traced = c.trace && p % 2 == 0
      if (c.trace) { drain(); tr.on = traced }
      w.pass(spark, p).foreach(runOp(p, traced))
    }
    w.finish(spark).foreach(runOp(passes, c.trace))
    val timedWall = tr.now() - t0
    log("timed phase done")

    // --- per-layer probes (traced run only, after the timed phase)
    val probeOps = mutable.ArrayBuffer.empty[OpRec]
    val streamWl = new QueryWorkload("stream_probe", c, Catalog.streamProbe, passSeconds = 0.0)
    var timedPhaseMs = Map.empty[String, Long]
    val probes = if (!c.trace) Map.empty[String, Double] else {
      drain()
      timedPhaseMs = plans.synchronized(plans.phaseMs.toMap)
      tr.on = true
      streams.recording = true
      streamWl.pass(spark, 0).foreach(runOp(0, traced = true, probeOps))
      drain()
      streams.recording = false
      sourceProbes()
    }
    tr.on = false

    // --- untimed verification
    val vdir = s"${c.work}/verify"
    val verifyFailed = w.verify(spark, vdir) ++ (if (c.trace) streamWl.verify(spark, vdir) else Nil)
    val dumped = w.dumped ++ (if (c.trace) streamWl.dumped else Nil)
    Json.write(s"$vdir/oracle_sql.json", graft.SparkEntry.oracleSql.filter { case (k, _) => dumped.contains(k) })
    val extra = w.extra(spark, ops.toList)
    log("verified")

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val lat = ops.map(_.wall).toSeq
    // one op of each name at its median latency: the time of one pass,
    // independent of how many passes fit the fixed-length timed phase
    def perName(sel: Seq[OpRec]) = sel.groupBy(_.name).map { case (k, v) => k -> Stats.median(v.map(_.wall)) }
    val traced = perName(ops.filter(_.traced).toSeq)
    val untraced = perName(ops.filterNot(_.traced).toSeq)
    metrics("wall_s") = (if (c.trace) traced else untraced).values.sum
    metrics("op_p50_s") = Stats.quantile(lat, 0.5)
    if (lat.size >= 100) metrics("op_p90_s") = Stats.quantile(lat, 0.9)
    metrics("setup_s") = Stats.median(setupS.toSeq)
    metrics ++= extra.filter(_._1 == "stored_bytes_per_row")
    if (c.trace) {
      metrics ++= layerMetrics(extra, probes, probeOps.toSeq, timedPhaseMs)
      val both = (traced.keySet & untraced.keySet).toSeq
      metrics("trace.overhead_frac") = both.map(traced).sum / both.map(untraced).sum - 1.0
    }
    val traceFile = if (c.trace) writeTrace() else ""
    spark.stop()
    Seq(Ingest.fixtureDir(c.data), Medallion.warehouseRoot(c.data)).foreach(p => rm(new File(p)))
    Map(
      "workload" -> w.name, "seed" -> c.seed, "cores" -> c.cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "setup_runs_s" -> setupS.toSeq, "passes" -> passes,
      "timed_wall_s" -> timedWall, "jvm" -> jvmTimes(),
      "op_counts" -> (ops ++ probeOps).groupBy(_.name).map { case (k, v) => k -> v.size },
      "op_threw" -> (ops ++ probeOps).filterNot(_.ok).groupBy(_.name).map { case (k, v) => k -> v.size },
      "errors" -> errors.toMap, "verify_failed" -> verifyFailed,
      "verify_dir" -> vdir, "dumped" -> dumped, "metrics" -> metrics.toMap, "trace_file" -> traceFile)
  }

  /** Process CPU, JIT and GC seconds so far: tells host contention
    * (wall grows, CPU does not) from extra work in the JVM. */
  private def jvmTimes(): Map[String, Double] = {
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    Map("cpu_s" -> os.getProcessCpuTime / 1e9,
      "jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
      "gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3,
      "uptime_s" -> ManagementFactory.getRuntimeMXBean.getUptime / 1e3)
  }

  /** Warm `Tables.load` of every table and a `Tables.scaled` call,
    * timed on their own with the jobs they launch. */
  private def sourceProbes(): Map[String, Double] = {
    val sc = spark.sparkContext
    def probe[T](f: => T): (Double, Int) = {
      val id = tr.newId()
      sc.setLocalProperty(Props.Op, id.toString)
      val s = tr.now()
      f
      val d = tr.now() - s
      sc.setLocalProperty(Props.Op, null)
      drain()
      (d, jobs.jobsOf(id).size)
    }
    val loads = (1 to 5).map(_ => Tables.names.map(n => probe(Tables.load(spark, c.data, n))))
    val scaled = (1 to 5).map { _ =>
      val df = Tables.load(spark, c.data, "lineitem")
      probe(Tables.scaled(df))._1
    }
    Map(
      "sources.load_s" -> Stats.median(loads.map(r => r.map(_._1).sum / r.size)),
      "sources.load_jobs" -> loads.flatten.map(_._2).sum.toDouble / loads.flatten.size,
      "sources.scaled_s" -> Stats.median(scaled))
  }

  private def layerMetrics(extra: Map[String, Double], probes: Map[String, Double],
                           streamOps: Seq[OpRec], phase: Map[String, Long]): Map[String, Double] = {
    val traced = ops.filter(_.traced).toSeq
    val n = math.max(1, traced.size).toDouble
    val ids = traced.map(_.id).toSet
    val jobList = jobs.synchronized(jobs.jobs.values.filter(j => ids(j.op)).toList)
    val byOp = jobList.groupBy(_.op)
    val gaps = traced.map { o =>
      val iv = byOp.getOrElse(o.id, Nil).map(j => (j.start, if (j.end.isNaN) o.end else j.end))
      o.wall - Stats.covered(iv, o.start, o.end)
    }
    val t = jobs.synchronized(jobs.tasks.filter(x => ids(x._1)).values.toList)
    val nTasks = t.map(_.tasks).sum.toDouble
    val runS = t.map(_.runMs).sum / 1e3
    val wallSum = traced.map(_.wall).sum
    val bs = streams.synchronized(streams.batches.toList)
    def med(k: String*) = Stats.median(bs.map(b => k.map(b.durMs.getOrElse(_, 0L)).sum.toDouble))
    val trig = bs.map(_.durMs.getOrElse("triggerExecution", 0L).toDouble)
    val add = bs.map(_.durMs.getOrElse("addBatch", 0L).toDouble)
    val streamIds = streamOps.map(_.id).toSet
    val streamJobs = jobs.synchronized(jobs.jobs.values.count(j => streamIds(j.op)))
    tr.add(bs.map { b =>
      val op = streamOps.find(o => b.start >= o.start - 0.05 && b.start <= o.end).map(_.id).getOrElse(0L)
      Span(tr.newId(), op, op, "streaming.batch", b.start, b.start + b.durMs.getOrElse("triggerExecution", 0L) / 1e3)
    })
    probes ++ Map(
      "queries.build_s" -> traced.map(_.build).sum / n,
      "queries.exec_s" -> traced.map(_.exec).sum / n,
      "catalyst.analysis_ms" -> phase("analysis") / n,
      "catalyst.optimization_ms" -> phase("optimization") / n,
      "catalyst.planning_ms" -> phase("planning") / n,
      "spark.jobs_per_op" -> jobList.size / n,
      "spark.driver_gap_s" -> gaps.sum / n,
      "spark.tasks_per_op" -> nTasks / n,
      "spark.task_run_s" -> runS / n,
      "spark.core_util" -> (if (wallSum > 0) runS / (wallSum * c.cores) else 0.0),
      "spark.small_task_frac" -> (if (nTasks > 0) t.map(_.small).sum / nTasks else 0.0),
      "spark.shuffle_bytes" -> t.map(_.shuffleBytes).sum / n,
      "spark.spill_bytes" -> t.map(_.spillBytes).sum / n,
      "streaming.batch_p50_s" -> Stats.quantile(trig, 0.5) / 1e3,
      "streaming.batch_p90_s" -> Stats.quantile(trig, 0.9) / 1e3,
      "streaming.trigger_ms" -> med("triggerExecution"),
      "streaming.add_batch_ms" -> med("addBatch"),
      "streaming.non_add_batch_frac" ->
        (if (trig.sum > 0) (trig.sum - add.sum) / trig.sum else 0.0),
      "streaming.query_planning_ms" -> med("queryPlanning"),
      "streaming.offset_ms" -> med("latestOffset", "getBatch"),
      "streaming.wal_commit_ms" -> med("walCommit", "commitOffsets"),
      "streaming.state_commit_ms" -> Stats.median(bs.map(_.stateCommitMs.toDouble)),
      "streaming.batches_per_op" -> bs.size.toDouble / math.max(1, streamOps.size),
      "streaming.jobs_per_batch" -> (if (bs.nonEmpty) streamJobs.toDouble / bs.size else 0.0)
    ) ++ TxWorkload.layerNames.map(k => k -> extra.getOrElse(k, 0.0)) ++ Map(
      "txlog.jobs_per_commit" -> {
        val commits = traced.filter(o => o.name == "txlog.commit" || o.name == "txlog.append")
        if (commits.isEmpty) 0.0 else commits.map(o => byOp.getOrElse(o.id, Nil).size).sum.toDouble / commits.size
      })
  }

  /** One JSON with every span (and its self time) and every counter. */
  private def writeTrace(): String = {
    val (spans, counts) = tr.snapshot()
    val self = tr.selfTimes(spans)
    val path = s"${c.work}/trace_${w.name}_${c.seed}.json"
    Json.write(path, Map(
      "workload" -> w.name, "seed" -> c.seed, "counts" -> counts,
      "self_s_by_name" -> spans.groupBy(_.name).map { case (k, v) => k -> v.map(s => self(s.id)).sum },
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start" -> s.start, "end" -> s.end, "self" -> self(s.id)))))
    path
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Length of the union of `iv`, each interval clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    clipped.foreach { case (a, b) =>
      if (cs.isNaN) { cs = a; ce = b }
      else if (a <= ce) ce = math.max(ce, b)
      else { total += ce - cs; cs = a; ce = b }
    }
    if (cs.isNaN) total else total + ce - cs
  }
}

/** Minimal JSON writer for the report (maps, sequences, scalars). */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
  }
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + esc(s) + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
  def write(path: String, v: Any): Unit = {
    new File(path).getParentFile.mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), render(v))
  }
}
