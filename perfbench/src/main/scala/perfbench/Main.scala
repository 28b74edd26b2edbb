package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import graft.{Functions, GraftSession}

/** Runs one workload in one JVM and writes its result record.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <scratch dir> --out <record.json> --spans <spans.jsonl>
  *      [--smoke 1]
  * }}}
  *
  * Order of a run: set-up, warm-up ops, two more set-ups (set-up time is
  * the median of the three), the timed closed loop, then the output
  * checks. With `--trace 1` every layer call is a span and Spark's work is
  * attributed to spans by a listener; with `--trace 0` no listener is
  * registered. */
object Main {
  val workloads: Seq[String] = Seq("txn_sync", "corpus_graph")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val name = need("workload")
    require(workloads.contains(name), s"unknown workload $name")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val smoke = opt.get("smoke").contains("1")
    val work = Paths.get(need("work")).toAbsolutePath.toString

    val cores = Runtime.getRuntime.availableProcessors()
    val master = s"local[$cores]"
    val spark = GraftSession.builder(master)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.catalog.graft", "graft.sources.v2.GraftTableCatalog")
      .config("spark.sql.catalog.graft.warehouse", s"$work/lake")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Functions.register(spark)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionStartS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val tracer = new Tracer(traced, spark.sparkContext)
    val ctx = Ctx(spark, tracer, seed, work, smoke)
    val wl: Workload = name match {
      case "txn_sync" => new TxnSync(ctx)
      case "corpus_graph" => new CorpusGraph(ctx)
    }

    // wall seconds of each phase of the run, for the record
    val phases = scala.collection.mutable.LinkedHashMap[String, Double](
      "session" -> sessionStartS)
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally phases(name) = (System.nanoTime() - t0) / 1e9
    }
    val setupS = ArrayBuffer[Double]()
    def timedSetup(n: Int): Unit = phase(s"setup$n") {
      val t0 = System.nanoTime()
      tracer.span("setup")(wl.setup())
      setupS += (System.nanoTime() - t0) / 1e9
    }
    timedSetup(1)
    phase("warmup")(tracer.span("warmup")(wl.warmup()))
    timedSetup(2)
    timedSetup(3)

    val ops = ArrayBuffer[Op]()
    val stagedAfterOp = ArrayBuffer[Long]()
    var error: Option[String] = None
    val loop0 = System.nanoTime()
    def elapsed = (System.nanoTime() - loop0) / 1e9
    var i = 0
    while (error.isEmpty && (elapsed < seconds || i < wl.counterWindow)) {
      tracer.cycle = i
      try ops += tracer.span("cycle")(wl.op(i))
      catch { case NonFatal(e) =>
        e.printStackTrace()
        error = Some(s"op $i: $e")
      }
      if (traced && i < wl.counterWindow)
        stagedAfterOp += tracer.bookkeeping(ctx.stagedBytes())
      i += 1
    }
    val loopS = elapsed
    tracer.cycle = -1
    // before the checks, whose own work is not the workload's
    val peakRss = peakRssMb()

    val attempted = ops.size + error.size
    phases("loop") = loopS
    val failed = phase("check") {
      if (error.isDefined) attempted
      else try wl.check(ops.toIndexedSeq) catch { case NonFatal(e) =>
        e.printStackTrace()
        error = Some(s"check: $e")
        attempted
      }
    }

    // metric values by name; run.py adds the units BENCHMARK.json registers
    val endToEnd: Map[String, Double] =
      if (ops.isEmpty) Map.empty
      else Map(
        "setup_s" -> Stats.median(setupS.toSeq),
        "op_p50_ms" -> Stats.median(ops.map(_.seconds).toSeq) * 1000,
        "items_per_s" -> ops.map(_.items).sum / ops.map(_.seconds).sum,
        "peak_rss_mb" -> peakRss)

    // the layers this workload calls; run.py reports the others as 0
    val perLayer: Map[String, Double] =
      if (!traced || error.isDefined) Map.empty
      else {
        val extras = phase("traced_extras")(wl.tracedExtras())
        val view = new TraceView(tracer.spans.toSeq, tracer.counters(),
          wl.counterWindow, stagedAfterOp.toSeq)
        view.common ++ wl.layers(view, ops.toIndexedSeq) ++ extras
      }

    if (traced) writeSpans(need("spans"), tracer)
    val record = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "smoke" -> smoke,
      "correct" -> (failed == 0 && error.isEmpty),
      "attempted" -> attempted, "failed" -> failed, "error" -> error,
      "end_to_end" -> endToEnd, "per_layer" -> perLayer,
      "op_seconds" -> Stats.summary(ops.map(_.seconds).toSeq),
      "setup_samples_s" -> setupS.toSeq,
      "ops" -> ops.map(o => Seq(o.seconds, o.items)),
      "phase_s" -> phases.toMap,
      "trace_bookkeeping_s" -> tracer.overheadNs / 1e9,
      "details" -> wl.details,
      "host" -> Map(
        "master" -> master, "cores" -> cores,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "jvm" -> System.getProperty("java.vm.version"),
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString))
    tracer.stop()
    spark.stop()
    Files.write(Paths.get(need("out")), Json(record).getBytes(StandardCharsets.UTF_8))
  }

  /** The JVM's resident-set high-water mark (Linux `VmHWM`). */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM"))
    line.split("\\s+")(1).toDouble / 1024
  }

  /** One JSON line per span, with the Spark work attributed to it alone
    * (its nested spans' work is on their own lines). */
  private def writeSpans(path: String, tracer: Tracer): Unit = {
    val c = tracer.counters()
    val lines = tracer.spans.map { s =>
      val k = c.getOrElse(s.id, new Counters)
      Json(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "cycle" -> s.cycle, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "jobs" -> k.jobs, "failed_jobs" -> k.failedJobs, "tasks" -> k.tasks,
        "shuffle_bytes" -> k.shuffleBytes, "spill_bytes" -> k.spillBytes,
        "input_bytes" -> k.inputBytes, "output_bytes" -> k.outputBytes))
    }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
  }
}
