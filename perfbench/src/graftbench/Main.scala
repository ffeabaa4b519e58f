package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange

/** The benchmark's JVM side: one closed-loop client on one driver
  * thread, running a workload's `SparkEntry.queries` one after another.
  *
  * A run is: one untimed check pass that fingerprints every query's
  * complete output against the recorded expectation (this is also the
  * JIT warm-up, and in a warm workload it fills the session's shared
  * tables), then `--passes` timed passes. A timed query execution is
  * the call of its query function plus writing its complete output to
  * Spark's `noop` sink. The seed only permutes the order of each pass
  * (of query groups, see `order`). A query that throws is a failure and never a latency sample.
  *
  * Each check runs in a session in the state the timed passes see: in
  * a fresh-session workload the check pass is the base session's first
  * touch, so it takes the build path; in a warm workload a second check
  * pass runs after the timed passes in the session they used, so the
  * reuse path they timed is checked too.
  *
  * Every layer is measured from outside: wall clocks around the calls
  * into the query functions, the `TempTables` ledgers, the plan and
  * planning phases of the `noop` write that ran (a [[LastExecution]]
  * listener), a [[Tracer]] listener and the JVM MXBeans. The
  * per-layer figures are collected only with `--trace 1`.
  *
  * The raw per-pass record is written as JSON to `--out`; `run.py`
  * turns it into the metrics. `--record FILE` instead writes the
  * expected fingerprint of every listed query. */
object Main {
  final case class Opts(
      data: String,
      groups: Seq[Seq[String]],
      freshSession: Boolean,
      seed: Long,
      passes: Int,
      trace: Boolean,
      cores: Int,
      expected: Option[String],
      out: String,
      traceOut: Option[String],
      record: Option[String],
      injectThrow: Option[String],
      injectWrong: Option[String],
      injectWrongOnReuse: Option[String])

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(
      data = get("data"),
      groups = get("queries").split(",").toSeq.filter(_.nonEmpty).map(_.split("\\+").toSeq),
      freshSession = kv.get("fresh-session").contains("true"),
      seed = kv.getOrElse("seed", "0").toLong,
      passes = kv.getOrElse("passes", "1").toInt,
      trace = kv.get("trace").contains("1"),
      cores = get("cores").toInt,
      expected = kv.get("expected"),
      out = kv.getOrElse("out", ""),
      traceOut = kv.get("trace-out"),
      record = kv.get("record"),
      injectThrow = kv.get("inject-throw"),
      injectWrong = kv.get("inject-wrong"),
      injectWrongOnReuse = kv.get("inject-wrong-on-reuse"))
  }

  type Query = (SparkSession, String) => DataFrame

  /** The workload's query functions by group (`ALL` = every declared
    * query, one per group), with the self-test injections applied: `--inject-throw` makes a query's function throw,
    * `--inject-wrong` makes a query return one duplicated row too many, and `--inject-wrong-on-reuse` does so
    * on every call after the first in a session, when its shared tables and models are reused. */
  def catalogue(o: Opts): Seq[Seq[(String, Query)]] = {
    val all = graft.SparkEntry.queries
    val groups = if (o.groups == Seq(Seq("ALL"))) all.keys.toSeq.map(Seq(_)) else o.groups
    groups.map(_.map { q =>
      val fn = all.getOrElse(q, sys.error(s"unknown query id: $q"))
      val f: Query =
        if (o.injectThrow.contains(q)) (_, _) => throw new IllegalStateException(s"injected failure in $q")
        else if (o.injectWrong.contains(q)) (s, d) => { val df = fn(s, d); df.union(df.limit(1)) }
        else if (o.injectWrongOnReuse.contains(q)) {
          val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkSession, java.lang.Boolean])
          (s, d) => { val df = fn(s, d); if (seen.add(s)) df else df.union(df.limit(1)) }
        }
        else fn
      q -> f
    })
  }

  def describe(e: Throwable): String =
    e.getClass.getName + ": " + String.valueOf(e.getMessage).take(300)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // the same bounded status-store retention as graft.Bench
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "5000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()
    val queries = catalogue(o)
    try o.record match {
      case Some(file) => record(spark, o, queries.flatten, file)
      case None => Files.write(Paths.get(o.out), run(spark, o, queries, sessionReadyMs).getBytes(UTF_8))
    } finally spark.stop()
  }

  /** Writes `query rows columns-hash row-sum` for every query; exits
    * non-zero if any query throws, so a failing output is never
    * recorded as expected. */
  def record(spark: SparkSession, o: Opts, queries: Seq[(String, Query)], file: String): Unit = {
    val lines = queries.map { case (q, fn) =>
      try {
        val p = Fingerprint.of(fn(spark, o.data))
        s"$q\t${p.rows}\t${p.columnsHash}\t${p.rowSumHex}"
      } catch { case NonFatal(e) => sys.error(s"$q failed while recording: ${describe(e)}") }
    }
    Files.write(Paths.get(file), lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  final case class Expected(rows: Long, columnsHash: String, rowSum: String)

  def loadExpected(file: String): Map[String, Expected] =
    scala.io.Source.fromFile(file, "UTF-8").getLines().filter(_.nonEmpty).map { l =>
      val Array(q, rows, cols, sum) = l.split("\t")
      q -> Expected(rows.toLong, cols, sum)
    }.toMap

  /** One timed query execution. `*S` fields are seconds; `*Ms` fields
    * are wall-clock milliseconds, the clock Spark stamps its events with.
    * The write runs from `writeStartMs` to `endMs`; its planning phases
    * lie in `[planStartMs, planEndMs]` and take `planS`, and `executeS`
    * is the rest of the write. */
  final case class Exec(
      query: String, ok: Boolean, error: String,
      startMs: Long, endMs: Long, writeStartMs: Long, planStartMs: Long, planEndMs: Long,
      constructS: Double, planS: Double, executeS: Double, latencyS: Double,
      exchanges: Int, fallbacks: Int,
      builds: Long, buildS: Double, buildBytes: Long, firstReadS: Double)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  }
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Every node of a physical plan, looking inside adaptive plans,
    * query stages and subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
      case s: QueryStageExec => planNodes(s.plan)
      case _ => Nil
    }
    p +: (inner ++ p.children.flatMap(planNodes) ++ p.subqueries.flatMap(planNodes))
  }

  private def ledger(): (Long, Double, Long, Double) = {
    val b = graft.TempTables.buildCosts.values
    val r = graft.TempTables.firstReadCosts.values
    (b.map(_._3).sum, b.map(_._1).sum, b.map(_._2).sum, r.map(_._1.max(0.0)).sum)
  }

  /** Planning seconds of a query execution (its tracker's analysis,
    * optimization and planning phases) and their wall-clock span. */
  def planning(qe: QueryExecution): (Double, Long, Long) = {
    val ph = qe.tracker.phases.filter { case (k, _) => PlanPhases(k) }.values
    if (ph.isEmpty) (0.0, 0L, 0L)
    else (ph.map(_.durationMs).sum / 1e3, ph.map(_.startTimeMs).min, ph.map(_.endTimeMs).max)
  }
  private val PlanPhases = Set(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
    QueryPlanningTracker.PLANNING)

  /** One timed query execution: the call of its query function, then
    * the `noop` write of its complete output. In a traced run the plan
    * figures come from the write that ran (its final adaptive plan and
    * its planning phases), which `last` receives from the listener bus. */
  def timed(s: SparkSession, data: String, pass: Int, q: String, fn: Query,
      last: Option[LastExecution]): Exec = {
    val trace = last.isDefined
    val sc = s.sparkContext
    if (trace) sc.setJobGroup(s"p$pass/$q", q, interruptOnCancel = false)
    def phase(name: String): Unit = if (trace) sc.setLocalProperty(Tracer.PhaseKey, name)
    val before = if (trace) ledger() else null
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0; var writeMs = startMs
    val (ok, error) =
      try {
        phase("construct")
        val df = fn(s, data)
        t1 = System.nanoTime()
        writeMs = System.currentTimeMillis()
        phase("execute")
        df.write.format("noop").mode("overwrite").save()
        (true, "")
      } catch {
        case NonFatal(e) => (false, describe(e))
        case e: StackOverflowError => (false, describe(e))
      }
    val t2 = System.nanoTime()
    val endMs = System.currentTimeMillis()
    // a throw while constructing leaves the write at zero length
    if (t1 == t0) t1 = t2
    var planS = 0.0; var planFrom = writeMs; var planTo = writeMs
    var exchanges = 0; var fallbacks = 0
    var ledgerDelta = (0L, 0.0, 0L, 0.0)
    if (trace) {
      sc.clearJobGroup(); sc.setLocalProperty(Tracer.PhaseKey, null)
      val after = ledger()
      ledgerDelta = (after._1 - before._1, after._2 - before._2, after._3 - before._3, after._4 - before._4)
      if (ok) {
        org.apache.spark.GraftBenchBus.drain(sc)
        last.flatMap(_.take()).foreach { qe =>
          val (secs, from, to) = planning(qe)
          planS = secs; planFrom = from; planTo = to
          val nodes = planNodes(qe.executedPlan)
          exchanges = nodes.count(_.isInstanceOf[Exchange])
          fallbacks = nodes.map(_.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum).sum
        }
      }
    }
    val (builds, buildS, buildBytes, readS) = ledgerDelta
    Exec(q, ok, error, startMs, endMs, writeMs, planFrom, planTo,
      (t1 - t0) / 1e9, planS, (t2 - t1) / 1e9 - planS, (t2 - t0) / 1e9,
      exchanges, fallbacks, builds, buildS, buildBytes, readS)
  }

  def run(spark: SparkSession, o: Opts, groups: Seq[Seq[(String, Query)]], sessionReadyMs: Long): String = {
    val sc = spark.sparkContext
    val tracer = if (o.trace) { val t = new Tracer; sc.addSparkListener(t); Some(t) } else None
    val expected = o.expected.map(loadExpected).getOrElse(Map.empty)
    val rng = new java.util.Random(o.seed)
    // a pass permutes the groups; a group keeps its order, so a shared
    // table or model is always first touched by the same query
    def order(): Seq[(String, Query)] = {
      val a = groups.toArray
      var i = a.length - 1
      while (i > 0) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a.toSeq.flatten
    }

    // an untimed check pass: every output fingerprinted against `expected`
    def check(s: SparkSession, when: String) = order().map { case (q, fn) =>
      val t0 = System.nanoTime()
      val verdict =
        try {
          val p = Fingerprint.of(fn(s, o.data))
          expected.get(q) match {
            case None => Some("no expected output recorded")
            case Some(e) if e.rows != p.rows => Some(s"rows ${p.rows}, expected ${e.rows}")
            case Some(e) if e.columnsHash != p.columnsHash => Some(s"columns ${p.columns}")
            case Some(e) if e.rowSum != p.rowSumHex => Some(s"row fingerprint ${p.rowSumHex}, expected ${e.rowSum}")
            case _ => None
          }
        } catch {
          case NonFatal(e) => Some(describe(e))
          case e: StackOverflowError => Some(describe(e))
        }
      ListMap("query" -> q, "when" -> when, "ok" -> verdict.isEmpty, "reason" -> verdict.getOrElse(""),
        "seconds" -> (System.nanoTime() - t0) / 1e9)
    }
    // the base session's first touch: the build path a fresh session takes
    val checksBefore = check(spark, "before")
    tracer.foreach(_ => org.apache.spark.GraftBenchBus.drain(sc))
    val firstPassStartMs = System.currentTimeMillis()

    val spans = ArrayBuffer.empty[ListMap[String, Any]]
    val passes = (1 to o.passes).map { pass =>
      val s = if (o.freshSession) spark.newSession() else spark
      val last = tracer.map { _ => val l = new LastExecution; s.listenerManager.register(l); l }
      val cpu0 = os.getProcessCpuTime; val gc0 = gcMs(); val jit0 = jitMs()
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val execs = order().map { case (q, fn) => timed(s, o.data, pass, q, fn, last) }
      val wall = (System.nanoTime() - t0) / 1e9
      last.foreach(s.listenerManager.unregister)
      val endMs = System.currentTimeMillis()
      val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
      val gcS = (gcMs() - gc0) / 1e3
      val jitS = (jitMs() - jit0) / 1e3
      val threads = ManagementFactory.getThreadMXBean.getThreadCount
      val liveHeapMb = liveHeapAfterGc()
      val layers = tracer.map { t =>
        org.apache.spark.GraftBenchBus.drain(sc)
        passLayers(t, pass, execs, wall, cpuS, gcS, jitS, threads, o.cores, spans, startMs, endMs)
      }
      ListMap(
        "pass" -> pass, "start_ms" -> startMs, "end_ms" -> endMs, "wall_s" -> wall,
        "cpu_s" -> cpuS, "gc_s" -> gcS, "jit_s" -> jitS, "threads" -> threads,
        "heap_live_mb" -> liveHeapMb,
        "samples" -> execs.map(e => ListMap(
          "query" -> e.query, "ok" -> e.ok, "latency_s" -> e.latencyS, "error" -> e.error)),
        "layers" -> layers.getOrElse(ListMap.empty))
    }

    // the reuse path the warm passes timed, checked in the session they used
    val checksAfter = if (o.freshSession || o.passes == 0) Nil else check(spark, "after")

    (o.traceOut, tracer) match {
      case (Some(file), Some(_)) => Files.write(Paths.get(file), Json(spans).getBytes(UTF_8))
      case _ =>
    }
    Json(ListMap(
      "spark_version" -> spark.version,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "session_ready_ms" -> sessionReadyMs,
      "first_pass_start_ms" -> firstPassStartMs,
      "peak_rss_kb" -> peakRssKb(),
      "checks" -> (checksBefore ++ checksAfter),
      "passes" -> passes))
  }

  /** The heap still in use after a full collection, in MiB: what the
    * program keeps on the heap between passes. The first collection
    * lets Spark's ContextCleaner drop the broadcast and shuffle blocks
    * it left unreachable; the second, after the cleaner has had time to
    * run, counts what remains. Runs after a pass's figures are taken,
    * so its time is in no pass. */
  def liveHeapAfterGc(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** VmHWM of this process, in kB (-1 where /proc is unavailable). */
  def peakRssKb(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toLong }.getOrElse(-1L)
      finally src.close()
    } catch { case NonFatal(_) => -1L }

  /** The per-layer figures of one traced pass, and its spans. */
  def passLayers(t: Tracer, pass: Int, execs: Seq[Exec], wall: Double, cpuS: Double,
      gcS: Double, jitS: Double, threads: Int, cores: Int,
      spans: ArrayBuffer[ListMap[String, Any]], startMs: Long, endMs: Long): ListMap[String, Any] = {
    val prefix = s"p$pass/"
    val jobs = t.jobsOf(prefix)
    val sums = t.totals(prefix)
    val intervals = jobs.map(j => (j.start, if (j.end >= 0) j.end else j.start))
    val busyS = Tracer.unionLength(intervals) / 1e3
    val gapS = execs.map(e => (e.endMs - e.writeStartMs) - Tracer.covered(e.writeStartMs, e.endMs, intervals)).sum / 1e3
    val constructS = execs.map(_.constructS).sum
    val planS = execs.map(_.planS).sum
    val executeS = execs.map(_.executeS).sum
    val taskRunS = sums.runMs / 1e3
    val taskCpuS = sums.cpuNs / 1e9
    val mb = (b: Long) => b / 1048576.0

    val passId = s"p$pass"
    spans += ListMap("id" -> passId, "parent" -> null, "name" -> "pass", "start_ms" -> startMs, "end_ms" -> endMs)
    execs.foreach { e =>
      val qid = s"$passId/${e.query}"
      spans += ListMap("id" -> qid, "parent" -> passId, "name" -> e.query,
        "start_ms" -> e.startMs, "end_ms" -> e.endMs,
        "attrs" -> ListMap("ok" -> e.ok, "error" -> e.error, "exchanges" -> e.exchanges,
          "codegen_fallbacks" -> e.fallbacks, "temptables_builds" -> e.builds,
          "temptables_build_s" -> e.buildS, "temptables_write_mb" -> mb(e.buildBytes),
          "temptables_first_read_s" -> e.firstReadS))
      spans += ListMap("id" -> s"$qid/construct", "parent" -> qid, "name" -> "construct",
        "start_ms" -> e.startMs, "end_ms" -> e.writeStartMs, "dur_s" -> e.constructS)
      // the write's planning phases lie inside the execute window;
      // execute's dur_s is the window without them
      spans += ListMap("id" -> s"$qid/plan", "parent" -> qid, "name" -> "plan",
        "start_ms" -> e.planStartMs, "end_ms" -> e.planEndMs, "dur_s" -> e.planS)
      spans += ListMap("id" -> s"$qid/execute", "parent" -> qid, "name" -> "execute",
        "start_ms" -> e.writeStartMs, "end_ms" -> e.endMs, "dur_s" -> e.executeS)
    }
    jobs.foreach { j =>
      spans += ListMap("id" -> s"job${j.id}", "parent" -> s"$passId/${j.group.stripPrefix(prefix)}/${j.phase}",
        "name" -> "spark_job", "start_ms" -> j.start, "end_ms" -> j.end,
        "attrs" -> ListMap("stages" -> j.stages, "tasks" -> j.tasks))
    }

    ListMap(
      "queries.construct_s" -> constructS,
      "queries.construct_jobs" -> jobs.count(_.phase == "construct"),
      "temptables.build_s" -> execs.map(_.buildS).sum,
      "temptables.builds" -> execs.map(_.builds).sum,
      "temptables.write_mb" -> mb(execs.map(_.buildBytes).sum),
      "temptables.first_read_s" -> execs.map(_.firstReadS).sum,
      "plan.s" -> planS,
      "plan.exchanges" -> execs.map(_.exchanges).sum,
      "plan.codegen_fallbacks" -> execs.map(_.fallbacks).sum,
      "sched.jobs" -> jobs.size,
      "sched.stages" -> sums.stages,
      "sched.tasks" -> sums.tasks,
      "sched.tasks_per_stage" -> (if (sums.stages > 0) sums.tasks.toDouble / sums.stages else 0.0),
      "sched.job_busy_s" -> busyS,
      "sched.driver_gap_s" -> gapS,
      "exec.s" -> executeS,
      "task.run_s" -> taskRunS,
      "task.cpu_s" -> taskCpuS,
      "task.gc_s" -> sums.gcMs / 1e3,
      "task.core_util" -> (if (busyS > 0) taskRunS / (busyS * cores) else 0.0),
      "shuffle.write_mb" -> mb(sums.shuffleWriteBytes),
      "shuffle.read_mb" -> mb(sums.shuffleReadBytes),
      "shuffle.fetch_wait_s" -> sums.fetchWaitMs / 1e3,
      "spill.mb" -> mb(sums.spillBytes),
      "scan.input_mb" -> mb(sums.inputBytes),
      "scan.input_rows" -> sums.inputRecords,
      "jvm.jit_s" -> jitS,
      "jvm.gc_s" -> gcS,
      "jvm.non_task_cpu_s" -> (cpuS - taskCpuS),
      "jvm.live_threads" -> threads,
      "trace.pass_s" -> wall,
      "trace.layer_sum_ratio" -> (constructS + planS + executeS) / wall)
  }
}

/** A minimal JSON writer for the harness's own records. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
