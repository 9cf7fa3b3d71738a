package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.gen.FixtureStore
import graft.spark.GraftSession
import org.apache.spark.ListenerDrain
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one workload, one seed.
  *
  *   perfbench.Main --workload extract|ingest|curate --seed N --seconds S
  *     --trace 0|1 --work DIR --out FILE --tables DIR [--scale full|tiny]
  *
  * Sets the workload up `setups` times (reporting the median), runs one
  * untimed gate pass that checks every output and warms the JIT, then runs
  * a closed loop with one client for S seconds: the next call starts only
  * after the previous one returned, and a started pass always completes.
  * With `--trace 1` the same loop runs with spans and Spark listeners
  * attached, and the layer probes run afterwards. Writes the metrics to
  * FILE as JSON; `run.py` turns them into the result line.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, out: Path, tiny: Boolean, tables: Path)

  /** Listener counters over one call, plus its wall and JVM GC time. */
  final case class Delta(call: String, wallS: Double, jobs: Long, stages: Long, tasks: Long,
      taskS: Double, cpuS: Double, gcS: Double, shuffleWriteBytes: Long, outputBytes: Long,
      spillBytes: Long, exchanges: Long, taskMs: Vector[Long])

  final case class Call(pass: Int, name: String, sample: Sample, delta: Option[Delta])

  def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      Paths.get(m("work")).toAbsolutePath, Paths.get(m("out")).toAbsolutePath,
      m.getOrElse("scale", "full") == "tiny", Paths.get(m("tables")).toAbsolutePath)
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = GraftSession.builder("perfbench", cores)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def quartiles(xs: Seq[Double]): Map[String, Any] = {
    val s = xs.sorted
    def at(q: Double) = if (s.isEmpty) Double.NaN else {
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      s(lo) + (s(math.min(lo + 1, s.length - 1)) - s(lo)) * (pos - lo)
    }
    Map("n" -> s.length, "median" -> Probes.median(s), "q1" -> at(0.25), "q3" -> at(0.75))
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val w = Workloads(o.workload, o.seed, o.tiny, o.tables)
    val cores = Runtime.getRuntime.availableProcessors()
    val tr = new Tracer(s"${o.workload}-seed${o.seed}-${System.currentTimeMillis()}", o.trace)
    Workloads.delete(o.work)
    Files.createDirectories(o.work)

    // ---- set-up, w.setups times; the last input is the one measured -----
    var spark: SparkSession = null
    var dir: Path = null
    val setupS, sessionS, genS = ArrayBuffer.empty[Double]
    for (k <- 0 until w.setups) {
      if (spark != null) spark.stop()
      if (dir != null) Workloads.delete(dir)
      dir = o.work.resolve(s"input-$k")
      val t0 = System.nanoTime()
      spark = tr.span("spark", "SparkSession.getOrCreate") { session(cores, o.work) }
      val t1 = System.nanoTime()
      tr.span("gen", "generate") { FixtureStore.ensure(dir, w.tag)(w.generate(spark, dir)) }
      val t2 = System.nanoTime()
      setupS += (t2 - t0) / 1e9; sessionS += (t1 - t0) / 1e9; genS += (t2 - t1) / 1e9
    }

    val gateErrors = ArrayBuffer.empty[String]
    var regenerated = false
    FixtureStore.ensure(dir, w.tag) { regenerated = true }
    if (regenerated) gateErrors += s"FixtureStore.ensure did not find the input it stamped ${w.tag}"

    // ---- gate: untimed, also the JIT warm-up ------------------------------
    val phases = scala.collection.mutable.LinkedHashMap[String, Any]("setups_s" -> setupS.sum)
    val tGate = System.nanoTime()
    var attempted = 1
    var failed = 0
    try {
      gateErrors ++= w.gate(spark, tr, dir)
      // the gate leaves the JIT still warming: one more untimed call
      if (w.maxPasses > 1) {
        attempted += 1
        w.settle(spark, dir, w.calls.head, w.call(spark, tr, dir, w.calls.head), detail = false)
      }
    } catch { case NonFatal(e) => failed += 1; gateErrors += s"gate threw $e" }

    phases("gate_s") = Workloads.seconds(tGate)

    // ---- closed loop, one client ------------------------------------------
    val tLoop = System.nanoTime()
    val counters = new Counters
    if (o.trace) counters.attach(spark)
    val calls = ArrayBuffer.empty[Call]
    val nCalls = w.calls.length
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var i = 0
    while (i == 0 || i % nCalls != 0 ||
        (System.nanoTime() < deadline && i / nCalls < w.maxPasses)) {
      val name = w.calls(i % nCalls)
      attempted += 1
      try {
        // the previous settle's jobs must not land in this call's counters
        if (o.trace) ListenerDrain(spark.sparkContext)
        val r0 = counters.read()
        val g0 = Counters.gcMs()
        val s = w.call(spark, tr, dir, name)
        val gcS = (Counters.gcMs() - g0) / 1e3
        val delta = Option.when(o.trace) {
          ListenerDrain(spark.sparkContext)
          val r1 = counters.read()
          Delta(name, s.opWallS, r1.jobs - r0.jobs, r1.stages - r0.stages, r1.tasks - r0.tasks,
            (r1.taskMs - r0.taskMs) / 1e3, (r1.cpuNs - r0.cpuNs) / 1e9, gcS,
            r1.shuffleWrite - r0.shuffleWrite, r1.output - r0.output, r1.spill - r0.spill,
            r1.exchanges - r0.exchanges, counters.taskDurationsSince(r0.nTaskDurations))
        }
        calls += Call(i / nCalls, name, w.settle(spark, dir, name, s, detail = o.trace), delta)
      } catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"[perfbench] $name threw: $e")
      }
      i += 1
    }
    if (o.trace) counters.detach(spark)

    phases("loop_s") = Workloads.seconds(tLoop)
    val tRest = System.nanoTime()

    // ---- aggregate ---------------------------------------------------------
    /** Complete passes only: a pass with a failed call is never timed. */
    val passes = calls.groupBy(_.pass).values
      .filter(_.length == nCalls).map(_.toVector).toVector.sortBy(_.head.pass)
    def docsPerS(ps: Vector[Vector[Call]]): Double = if (ps.isEmpty) Double.NaN else {
      val total = w.calls.map(q => Probes.median(ps.map(_.find(_.name == q).get.sample.wallS))).sum
      w.docs / total
    }
    val perPassDps = passes.map(p => w.docs / p.map(_.sample.wallS).sum)
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    val summary = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    summary("docs_per_s") = quartiles(perPassDps)
    summary("setup_s") = quartiles(setupS.toSeq)
    summary("call_wall_s") = w.calls.map(q => q -> quartiles(passes.map(_.find(_.name == q).get.sample.wallS))).toMap
    summary("walls_s") = calls.map(c => math.rint(c.sample.wallS * 1e3) / 1e3)

    if (!o.trace) {
      metrics("setup_s") = (Probes.median(setupS.toSeq), "s")
      metrics("docs_per_s") = (docsPerS(passes), "1/s")
    } else {
      metrics("peak_rss_mb") = (peakRssMb(), "MB")
      val perPass = passes.map { p =>
        val ds = p.flatMap(_.delta)
        val wall = ds.map(_.wallS).sum
        val taskS = ds.map(_.taskS).sum
        val durs = ds.flatMap(_.taskMs).sorted
        Map(
          "spark.op.wall_s" -> wall, "spark.op.jobs" -> ds.map(_.jobs).sum.toDouble,
          "spark.op.stages" -> ds.map(_.stages).sum.toDouble,
          "spark.op.tasks" -> ds.map(_.tasks).sum.toDouble, "spark.op.task_s" -> taskS,
          "spark.op.cpu_s" -> ds.map(_.cpuS).sum, "spark.op.gc_s" -> ds.map(_.gcS).sum,
          "spark.op.sched_gap_s" -> (wall - taskS / cores),
          "spark.op.task_skew" -> (if (durs.isEmpty) Double.NaN
            else durs.last / math.max(Probes.median(durs.map(_.toDouble)), 1.0)),
          "spark.op.shuffle_write_bytes" -> ds.map(_.shuffleWriteBytes).sum.toDouble,
          "spark.op.output_bytes" -> ds.map(_.outputBytes).sum.toDouble,
          "spark.op.spill_bytes" -> ds.map(_.spillBytes).sum.toDouble,
          "spark.op.exchanges" -> ds.map(_.exchanges).sum.toDouble)
      }
      val units = Map("wall_s" -> "s", "task_s" -> "s", "cpu_s" -> "s", "gc_s" -> "s",
        "sched_gap_s" -> "s", "task_skew" -> "ratio", "shuffle_write_bytes" -> "bytes",
        "output_bytes" -> "bytes", "spill_bytes" -> "bytes")
      metrics("gen.s") = (Probes.median(genS.toSeq), "s")
      metrics("spark.session_start_s") = (Probes.median(sessionS.toSeq), "s")
      perPass.headOption.foreach(_.keys.foreach { k =>
        metrics(k) = (Probes.median(perPass.map(_(k))), units.getOrElse(k.stripPrefix("spark.op."), "count"))
      })
      metrics("trace.docs_per_s") = (docsPerS(passes), "1/s")

      val boost1 = o.workload != "extract"
      val sample = w.coreSample(if (boost1) 800 else 200)
      Probes.core(tr, sample).foreach { case (k, v) =>
        metrics(k) = (v, if (k.endsWith("_us_per_doc")) "us" else if (k.endsWith("mb_per_s")) "MB/s" else "ratio")
      }
      // ingest scans its own WARC input; the other workloads have none and
      // scan the core sample rendered as WARC
      val warcDir =
        if (o.workload == "ingest") dir
        else {
          val d = o.work.resolve("probe-warc")
          Inputs.writeWarcs(spark, d, Inputs.indexOf(sample.head.url), sample.length.toLong,
            if (boost1) 1 else 8, 4)
          d
        }
      Probes.sources(spark, tr, warcDir).foreach { case (k, v) =>
        metrics(k) = (v, if (k.endsWith("scan_s")) "s" else if (k.endsWith("records_per_s")) "1/s"
          else if (k.endsWith("mb_per_s")) "MB/s" else "ratio")
      }
      // only ingest has a store: its figures go to the trace file and stdout
      val ingests = calls.flatMap(_.sample.ingest).toVector
      if (ingests.nonEmpty) summary("snapshot") = Probes.snapshot(ingests)

      val traceFile = o.work.resolve("trace.json")
      Files.writeString(traceFile, Json.render(Map(
        "run_id" -> tr.runId,
        "spans" -> tr.all,
        "layer_self_s" -> tr.selfSeconds,
        "calls" -> calls.flatMap(_.delta).map(d => d.copy(taskMs = Vector.empty)),
        "per_call_median" -> w.calls.map { q =>
          val ds = calls.filter(_.name == q).flatMap(_.delta)
          def med(f: Delta => Double) = Probes.median(ds.map(f).toSeq)
          q -> Map("wall_s" -> med(_.wallS), "jobs" -> med(_.jobs.toDouble),
            "stages" -> med(_.stages.toDouble), "tasks" -> med(_.tasks.toDouble),
            "task_s" -> med(_.taskS), "gc_s" -> med(_.gcS),
            "sched_gap_s" -> med(d => d.wallS - d.taskS / cores),
            "shuffle_write_bytes" -> med(_.shuffleWriteBytes.toDouble),
            "spill_bytes" -> med(_.spillBytes.toDouble), "exchanges" -> med(_.exchanges.toDouble))
        }.toMap,
        "snapshot" -> summary.get("snapshot"),
        "metrics" -> metrics.toMap)))
      summary("trace_file") = traceFile.toString
    }

    phases("after_loop_s") = Workloads.seconds(tRest)
    summary("phases") = phases.toMap
    val facts = Map(
      "nproc" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "gc" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).mkString("+"),
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString)
    spark.stop()
    Files.writeString(o.out, Json.render(Map(
      "attempted" -> attempted, "failed" -> failed, "gate_errors" -> gateErrors.toVector,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "summary" -> summary.toMap, "facts" -> facts, "calls" -> w.calls)))
  }
}
