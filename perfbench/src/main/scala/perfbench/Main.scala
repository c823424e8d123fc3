package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.api.Layout
import org.apache.spark.sql.{Observation, SparkSession}

/** The benchmark's JVM side: one process, one calling thread, a closed
  * loop over the calls of one workload. Each call is timed from the API
  * call (construction) through a noop write of its result (execution);
  * its output is read back for checking outside the timed region.
  * Writes every record to `--out` as JSON; run.py does the checking and
  * the metrics.
  *
  * Arguments: --workload W --data DIR --work DIR --rows NAME=ROWS,...
  *            --seconds S --trace 0|1 --cores N --setup-reps R
  *            --warm-cycles C --out FILE [--perturb]
  */
object Main {

  final case class Args(m: Map[String, String], perturb: Boolean) {
    def apply(k: String): String =
      m.getOrElse(k, sys.error(s"missing argument --$k"))
  }

  private def parse(args: Array[String]): Args = {
    val m = mutable.Map.empty[String, String]
    var perturb = false
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--perturb" => perturb = true; i += 1
        case k if k.startsWith("--") && i + 1 < args.length =>
          m(k.drop(2)) = args(i + 1); i += 2
        case other => sys.error(s"unexpected argument $other")
      }
    }
    Args(m.toMap, perturb)
  }

  private def session(a: Args, traced: Boolean): SparkSession = {
    val cores = a("cores").toInt
    val work = a("work")
    var b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // bounded status-store retention: the live heap must not grow
      // with the number of calls a run happens to fit
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "1000")
    if (traced)
      b = b.config("spark.sql.queryExecutionListeners",
        classOf[PhaseListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the per-call teardown unpersists checkpoint blocks on purpose
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    spark
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Live heap after a full collection: what the call still holds
    * (pins included) before its teardown. */
  private def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val workload = a("workload")
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    val traced = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val rows: Map[String, Long] = a("rows").split(",").map { kv =>
      val Array(k, v) = kv.split("=")
      k -> v.toLong
    }.toMap

    // ---- set-up: session start and input registration, repeated so
    // its median is reported; then warm cycles in the kept session
    val sessionS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var in: Map[String, org.apache.spark.sql.DataFrame] = null
    val reps = a("setup-reps").toInt
    for (rep <- 1 to reps) {
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(a, traced)
      in = Workloads.inputs(spark, workload, a("data"))
      in.values.foreach(_.count())
      sessionS += secs(t0)
    }
    val records = mutable.ArrayBuffer.empty[Map[String, Any]]
    val cycles = mutable.ArrayBuffer.empty[Map[String, Any]]
    val sc = spark.sparkContext

    def teardown(): Unit =
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

    /** One call: construct, execute (the digest accumulates during the
      * noop write), then, untimed, pins, plan and any post-call check. */
    def runCall(c: Call, cycle: Int, phase: String, parent: Int): Unit = {
      val tracing = parent >= 0
      val callSpan =
        if (tracing) Tracer.span(parent, c.name, c.family, "call", cycle)
        else null
      val pid = if (tracing) callSpan.id else -1
      def timed[T](kind: String)(body: => T): T =
        if (tracing) Tracer.leaf(pid, s"${c.name}.$kind", c.family, kind,
          cycle)(body)
        else body
      var constructS = Double.NaN
      var execS = Double.NaN
      var built: Built = null
      var error: String = null
      var check: Map[String, Any] = Map.empty
      try {
        val t0 = System.nanoTime()
        built = timed("construct") {
          val b = c.build()
          // the returned frame's own (eager) analysis; actions run
          // during construction report theirs through PhaseListener
          if (tracing) b.df.foreach(df => Tracer.add("catalyst.analysis_ms",
            df.queryExecution.tracker.phases.get("analysis")
              .fold(0.0)(_.durationMs.toDouble)))
          b
        }
        constructS = secs(t0)
        val digest = built.digest(a.perturb)
        val obs = Observation(s"digest${records.size}")
        val t1 = System.nanoTime()
        timed("exec") {
          built.df.foreach { df =>
            val out =
              if (digest.isEmpty) df else df.observe(obs, digest.head, digest.tail: _*)
            out.write.format("noop").mode("overwrite").save()
          }
          built.action()
        }
        execS = secs(t1)
        if (digest.nonEmpty)
          check = Map("kind" -> "sums", "values" -> obs.get)
      } catch {
        case NonFatal(e) => error = e.toString
      }
      if (tracing) callSpan.end = Tracer.now
      val heapMb = liveHeapMb()
      val storage = sc.getRDDStorageInfo
      val rec = mutable.LinkedHashMap[String, Any](
        "name" -> c.name, "family" -> c.family, "cycle" -> cycle,
        "phase" -> phase, "rows" -> c.rows,
        "construct_s" -> constructS, "exec_s" -> execS, "heap_mb" -> heapMb,
        "pins_left" -> sc.getPersistentRDDs.size,
        "pins_storage_mb" ->
          storage.map(s => s.memSize + s.diskSize).sum / 1048576.0)
      if (tracing && error == null) built.df.foreach { df =>
        rec("plan_exchanges") = Layout.shuffleExchanges(df)
        rec("plan_sorts") = Layout.sortExecs(df)
      }
      if (error == null) {
        try check ++= built.after(a.perturb)
        catch { case NonFatal(e) => error = s"check: $e" }
      }
      rec("check") = check
      rec("error") = error
      if (tracing) callSpan.attrs ++= rec
      teardown()
      records += rec.toMap
    }

    /** Whole cycles until `budget` seconds have passed, at least
      * `least` of them. */
    def runCycles(calls: Seq[Call], phase: String, budget: Double,
                  tracing: Boolean, least: Int = 1): Unit = {
      val end = System.nanoTime() + (budget * 1e9).toLong
      var n = 0
      do {
        n += 1
        val cycle = cycles.size
        val span =
          if (tracing) Tracer.span(-1, s"cycle$cycle", workload, "cycle", cycle)
          else null
        val t0 = System.nanoTime()
        calls.foreach(c =>
          runCall(c, cycle, phase, if (tracing) span.id else -1))
        val wall = secs(t0)
        if (tracing) span.end = Tracer.now
        cycles += Map("cycle" -> cycle, "phase" -> phase, "wall_s" -> wall)
      } while (n < least || System.nanoTime() < end)
    }

    // whole cycles on the full inputs, so the timed cycles start with
    // the generated code compiled and the JIT past its steepest part
    val plain = Workloads.calls(spark, workload, in, rows, traced = false)
    val tw = System.nanoTime()
    runCycles(plain, "warm", 0.0, tracing = false,
      least = a("warm-cycles").toInt)
    val warmS = secs(tw)

    val extra = mutable.LinkedHashMap.empty[String, Any]
    // two cycles at least, so the per-cycle medians never rest on the
    // first (coldest) cycle alone
    if (!traced) runCycles(plain, "timed", seconds, tracing = false, least = 2)
    else {
      // untraced and traced cycles alternate, so both see the same JIT
      // and host state; their difference is the tracing overhead
      Tracer.install(spark)
      val tracedCalls = Workloads.calls(spark, workload, in, rows, traced = true)
      val end = System.nanoTime() + (seconds * 1e9).toLong
      do {
        runCycles(plain, "timed", 0.0, tracing = false)
        runCycles(tracedCalls, "traced", 0.0, tracing = true)
      } while (System.nanoTime() < end)
      if (workload == "scan_dedup")
        extra("lsh_candidates") = Workloads.lshCandidates(in)
      teardown()
    }

    val spans = Tracer.all.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "family" -> s.family, "kind" -> s.kind, "cycle" -> s.cycle,
        "start" -> s.start, "end" -> s.end,
        "counters" -> s.counters.snapshot, "attrs" -> s.attrs.toMap
          .filter { case (k, _) => k != "check" })
    }
    val out = Map(
      "workload" -> workload, "traced" -> traced,
      "setup" -> Map("session_s" -> sessionS.toSeq, "warm_s" -> warmS),
      "calls" -> records.toSeq, "cycles" -> cycles.toSeq,
      "spans" -> spans, "extra" -> extra.toMap)
    Files.write(Paths.get(a("out")), Json(out).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
