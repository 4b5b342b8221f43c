package connbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path

import graft.CacheRegistry
import graft.sharing.GraftSharing
import graft.sharing.fs.SignedHttpFileSystem

/** One op as run: wall time and either its output reader or its error. */
final case class OpRecord(id: String, client: Int, index: Long, ms: Double,
    result: Either[String, () => Any], trace: Option[OpTrace])

/** Runs one workload: [[Main.Setups]] set-ups, the first followed by the
  * first (cold) op, then a closed loop for `seconds` on the last set-up.
  * With `--trace 1` the loop is split into an untraced and a traced half,
  * followed by direct probes of single layers.
  * Prints a metric table, then the result as one JSON line, last.
  *
  *   connbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --input DIR --out DIR --gen-s X --launch-ms EPOCH_MS
  */
object Main {
  val Setups = 3
  /** Untimed ops before the loop: the JIT is still compiling after the
    * first op and the references, and op times fall for several ops. */
  val WarmupSeconds = 3.0
  val ProbeSamples = 15
  val FloorSamples = 5

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ops_per_s" -> "1/s", "op_p50_ms" -> "ms",
    "op_tail_ms" -> "ms", "first_op_ms" -> "ms", "cpu_ms_per_op" -> "ms",
    "retained_heap_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "setup.session_ms" -> "ms", "setup.server_ms" -> "ms",
    "setup.catalog_ms" -> "ms", "setup.warmup_ms" -> "ms", "gen_s" -> "s",
    "client.metadata_ms" -> "ms", "client.query_ms" -> "ms",
    "connector.open_ms" -> "ms",
    "plan.analysis_ms" -> "ms", "plan.optimization_ms" -> "ms",
    "plan.planning_ms" -> "ms",
    "stats.files_opened_per_op" -> "count", "stats.files_skipped_frac" -> "ratio",
    "fs.opens_per_op" -> "count", "fs.read_calls_per_op" -> "count",
    "fs.bytes_per_op" -> "bytes", "fs.read_ms_per_op" -> "ms",
    "fs.range64k_ms" -> "ms",
    "exec.stages_per_op" -> "count", "exec.tasks_per_op" -> "count",
    "exec.task_run_ms_per_op" -> "ms", "exec.task_cpu_ms_per_op" -> "ms",
    "exec.task_wait_ms_per_op" -> "ms", "exec.sched_wait_ms_per_op" -> "ms",
    "exec.gc_ms_per_op" -> "ms", "exec.shuffle_read_bytes_per_op" -> "bytes",
    "exec.shuffle_write_bytes_per_op" -> "bytes",
    "exec.spill_bytes_per_op" -> "bytes", "exec.input_bytes_per_op" -> "bytes",
    "exec.task_skew" -> "ratio",
    "cache.frames_per_op" -> "count", "cache.shared_build_ms" -> "ms",
    "op.minhash_ms" -> "ms", "op.cosine_ms" -> "ms",
    "scan.direct_floor_ms" -> "ms", "scan.connector_over_direct" -> "ratio",
    "trace.overhead_frac" -> "ratio") ++
    SpanTree.Layers.map(l => s"self.${l}_ms" -> "ms")

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, input: String, out: String, genS: Double, launchMs: Long)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("input"), get("out"), get("gen-s").toDouble,
      get("launch-ms").toLong)
  }

  private def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private def timedMs[T](body: => T): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e6
  }

  private var launchMs = 0L
  /** Progress line on stderr, stamped with seconds since JVM launch. */
  private def log(msg: String): Unit =
    System.err.println(f"connbench +${(System.currentTimeMillis() - launchMs) / 1000.0}%.1fs $msg")

  private def loadAvg1: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def runOp(env: Env, wl: Workload, phase: String, client: Int, i: Long,
      traced: Boolean): OpRecord = {
    val id = s"$phase-$client-$i"
    val t = if (traced) Some(new OpTrace(id)) else None
    val sc = env.spark.sparkContext
    if (traced) {
      sc.setLocalProperty(Trace.OpKey, id)
      FsCounters.driverOp.set(id)
    }
    val t0 = System.nanoTime()
    val res = try Right(t.fold(wl.op(env, client, i))(Trace.within(_)(wl.op(env, client, i))))
    catch { case e: Exception => Left(e.toString) }
    val t1 = System.nanoTime()
    t.foreach(_.root = Span("op", t0, t1))
    if (traced) {
      sc.setLocalProperty(Trace.OpKey, null)
      FsCounters.driverOp.remove()
    }
    OpRecord(id, client, i, (t1 - t0) / 1e6, res, t)
  }

  /** Every client runs ops back to back until `seconds` have passed;
    * returns the ops and the seconds from the start to the last op's end. */
  def closedLoop(env: Env, wl: Workload, phase: String, seconds: Double,
      traced: Boolean): (Seq[OpRecord], Double) = {
    val recs = ArrayBuffer.empty[OpRecord]
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until wl.clients).map { c =>
      new Thread(() => {
        var i = 0L
        while (System.nanoTime() < deadline) {
          val r = runOp(env, wl, phase, c, i, traced)
          recs.synchronized(recs += r)
          i += 1
        }
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (recs.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  /** Check each op's output against the reference; returns the failures. */
  def check(env: Env, wl: Workload, recs: Seq[OpRecord]): Seq[String] =
    recs.flatMap { r =>
      r.result match {
        case Left(err) => Some(s"${r.id}: $err")
        case Right(out) =>
          val got = try out() catch { case e: Exception => e.toString }
          val want = wl.expected(env, r.client, r.index)
          if (got == want) None else Some(s"${r.id}: got $got, expected $want")
      }
    }

  private def retainedHeapMb(): Double = {
    Thread.sleep(300) // let asynchronous unpersists land
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Per-layer metrics of a traced loop, plus direct probes of the REST
    * client, one 64 KB range read, and the direct-read floor. */
  def layerMetrics(env: Env, wl: Workload, tracer: Tracer, traced: Seq[OpRecord],
      baseline: Seq[OpRecord], seed: Long): (Map[String, Double], Seq[String]) = {
    val ops = traced.flatMap(r => r.trace.map(r -> _))
    val issues = ArrayBuffer.empty[String]
    def perOp(f: (OpRecord, OpTrace) => Double): Double = mean(ops.map(f.tupled))
    def spanMs(t: OpTrace, p: String => Boolean): Double =
      t.spans.filter(s => p(s.name)).map(_.dur).sum / 1e6
    def medianOrZero(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)

    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val trees = ops.map { case (r, t) =>
      val tree = tracer.tree(t)
      val selfSum = tree.all.map(_.self).sum
      if (selfSum != t.root.dur) issues += s"${r.id}: self times sum to $selfSum ns, wall ${t.root.dur} ns"
      r.id -> tree
    }.toMap
    m("connector.open_ms") = medianOrZero(ops.map(o => spanMs(o._2, _ == "connector.open")))
    Trace.PlanPhases.foreach { p =>
      m(s"plan.${p}_ms") = perOp((_, t) =>
        tracer.planSpans(t).filter(_.name == s"plan.$p").map(_.dur).sum / 1e6)
    }
    val fs = ops.map { case (r, _) => r -> FsCounters.of(r.id) }
    m("stats.files_opened_per_op") = mean(fs.map(_._2.files.size.toDouble))
    m("stats.files_skipped_frac") = mean(fs.map { case (r, c) =>
      1.0 - c.files.size.toDouble / wl.stagedFiles(env, r.client, r.index) })
    m("fs.opens_per_op") = mean(fs.map(_._2.opens.sum.toDouble))
    m("fs.read_calls_per_op") = mean(fs.map(_._2.reads.sum.toDouble))
    m("fs.bytes_per_op") = mean(fs.map(_._2.bytes.sum.toDouble))
    m("fs.read_ms_per_op") = mean(fs.map(_._2.nanos.sum / 1e6))

    val ex = ops.map { case (r, _) => tracer.exec.of(r.id) }
    def exMean(f: OpExec => Double) = mean(ex.map(f))
    m("exec.stages_per_op") = exMean(_.stages.size)
    m("exec.tasks_per_op") = exMean(_.tasks)
    m("exec.task_run_ms_per_op") = exMean(_.runMs)
    m("exec.task_cpu_ms_per_op") = exMean(_.cpuNs / 1e6)
    m("exec.task_wait_ms_per_op") = exMean(x => x.runMs - x.cpuNs / 1e6)
    m("exec.sched_wait_ms_per_op") = exMean(_.schedWaitMs)
    m("exec.gc_ms_per_op") = exMean(_.gcMs)
    m("exec.shuffle_read_bytes_per_op") = exMean(_.shuffleRead)
    m("exec.shuffle_write_bytes_per_op") = exMean(_.shuffleWrite)
    m("exec.spill_bytes_per_op") = exMean(_.spill)
    m("exec.input_bytes_per_op") = exMean(_.input)
    m("exec.task_skew") = medianOrZero(ex.map(_.skew))

    m("cache.frames_per_op") = perOp((_, t) => t.counts("cache.frames"))
    m("cache.shared_build_ms") = CacheRegistry.sharedBuildSeconds * 1000
    m("op.minhash_ms") = medianOrZero(ops.map(o => spanMs(o._2, _ == "op.minhash")))
    m("op.cosine_ms") = medianOrZero(ops.map(o => spanMs(o._2, _ == "op.cosine")))
    SpanTree.Layers.foreach { l =>
      m(s"self.${l}_ms") = mean(trees.values.toSeq.map(
        _.all.filter(n => SpanTree.layer(n.name) == l).map(_.self).sum / 1e6))
    }
    m("trace.overhead_frac") =
      Stats.median(traced.map(_.ms)) / Stats.median(baseline.map(_.ms)) - 1.0

    // direct probes, each on the workload's main table
    val main = env.ref(wl.tables.head)
    m("client.metadata_ms") = Stats.median((1 to ProbeSamples).map(_ =>
      timedMs(env.client.getTableMetadata(main))))
    m("client.query_ms") = Stats.median((1 to ProbeSamples).map(_ =>
      timedMs(env.client.getTableData(main))))
    val file = env.client.getTableData(main)._3.maxBy(_.size)
    val shfs = new SignedHttpFileSystem
    shfs.initialize(new java.net.URI("graftshare:///"),
      env.spark.sparkContext.hadoopConfiguration)
    val in = shfs.open(new Path(SignedHttpFileSystem.encode(file.url, file.size)))
    val len = math.min(65536L, file.size).toInt
    val buf = new Array[Byte](len)
    val rnd = new scala.util.Random(seed)
    m("fs.range64k_ms") = Stats.median((1 to ProbeSamples).map(_ => timedMs(
      in.readFully(rnd.nextLong(file.size - len + 1), buf))))
    in.close()

    def readAll(direct: Boolean): Unit = wl.tables.foreach(t => Workload.noop(
      if (direct) env.direct(t)
      else GraftSharing.readTable(env.spark, env.client, env.ref(t))))
    val (directMs, connectorMs) = (1 to FloorSamples).map { _ =>
      (timedMs(readAll(direct = true)), timedMs(readAll(direct = false)))
    }.unzip
    m("scan.direct_floor_ms") = Stats.median(directMs)
    m("scan.connector_over_direct") = Stats.median(connectorMs) / m("scan.direct_floor_ms")

    writeSpans(trees, traced)
    (m.toMap, issues.toSeq)
  }

  private var spansFile: java.nio.file.Path = _

  /** Write every op's span tree, one JSON line per node. */
  private def writeSpans(trees: Map[String, Node], recs: Seq[OpRecord]): Unit = {
    val mapper = new ObjectMapper()
    val lines = recs.flatMap { r =>
      val root = trees(r.id)
      def walk(n: Node, parent: String, depth: Int): Seq[String] = {
        val row = new java.util.LinkedHashMap[String, Any]()
        row.put("op", r.id)
        row.put("span", n.name)
        row.put("parent", parent)
        row.put("depth", depth)
        row.put("start_us", (n.start - root.start) / 1000)
        row.put("dur_us", n.dur / 1000)
        row.put("self_us", n.self / 1000)
        mapper.writeValueAsString(row) +: n.kids.toSeq.flatMap(walk(_, n.name, depth + 1))
      }
      walk(root, null, 0)
    }
    Files.write(spansFile, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  def main(argv: Array[String]): Unit =
    try run(parse(argv))
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1) // the sharing server's threads would keep the JVM up
    }

  private def run(a: Args): Unit = {
    launchMs = a.launchMs
    log("jvm started")
    val loadStart = loadAvg1
    val inputs = Inputs.load(a.input)
    val wl = Workload(a.workload, inputs)
    val cpus = Runtime.getRuntime.availableProcessors
    val work = Paths.get(a.out, "work")
    Files.createDirectories(work)
    val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    spansFile = Paths.get(a.out, s"$tag-spans.jsonl")

    // `Setups` set-ups; the first one's clock starts at JVM launch and it
    // is followed by the first (cold) op
    final case class Cycle(times: SetupTimes, setupS: Double)
    val cycles = ArrayBuffer.empty[Cycle]
    var env: Env = null
    var first: OpRecord = null
    for (k <- 1 to Setups) {
      if (env != null) env.close()
      val t0 = System.nanoTime()
      val (e, times) = Env.setup(inputs, cpus, work.toString)
      env = e
      cycles += Cycle(times,
        if (k == 1) (System.currentTimeMillis() - a.launchMs) / 1000.0
        else (System.nanoTime() - t0) / 1e9)
      log(s"set-up $k done")
      if (k == 1) {
        first = runOp(env, wl, "first", 0, 0, traced = false)
        log("first op done")
      }
    }

    // every reference output, before the loop: off the clock, and it runs
    // the same operators, so the loop starts on a warmer JVM
    for (c <- 0 until wl.clients; i <- 0 until wl.period) wl.expected(env, c, i)
    log("references done")
    val (warm, _) = closedLoop(env, wl, "warmup", WarmupSeconds, traced = false)
    log("warm-up done")

    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val (recs, failures, tailP, tailN) = if (!a.trace) {
      val cpu0 = processCpuNs
      val (loop, elapsed) = closedLoop(env, wl, "op", a.seconds, traced = false)
      val cpuMs = (processCpuNs - cpu0) / 1e6
      val ms = loop.map(_.ms)
      val (p, tail) = Stats.tail(ms)
      metrics("setup_s") = Stats.median(cycles.map(_.setupS).toSeq)
      metrics("ops_per_s") = loop.size / elapsed
      metrics("op_p50_ms") = Stats.median(ms)
      metrics("op_tail_ms") = tail
      metrics("first_op_ms") = first.ms
      metrics("cpu_ms_per_op") = cpuMs / loop.size
      metrics("retained_heap_mb") = retainedHeapMb()
      val all = (first +: warm) ++ loop
      (all, check(env, wl, all), p, ms.size)
    } else {
      val (base, _) = closedLoop(env, wl, "base", a.seconds / 2, traced = false)
      val tracer = new Tracer(env.spark)
      tracer.install()
      val (traced, _) = try closedLoop(env, wl, "trace", a.seconds / 2, traced = true)
        finally { tracer.exec.awaitQuiet(); tracer.uninstall() }
      def setupMed(f: SetupTimes => Double) = Stats.median(cycles.map(c => f(c.times)).toSeq)
      metrics("setup.session_ms") = setupMed(_.sessionMs)
      metrics("setup.server_ms") = setupMed(_.serverMs)
      metrics("setup.catalog_ms") = setupMed(_.catalogMs)
      metrics("setup.warmup_ms") = setupMed(_.warmupMs)
      metrics("gen_s") = a.genS
      val (layers, issues) = layerMetrics(env, wl, tracer, traced, base, a.seed)
      metrics ++= layers
      val all = (first +: warm) ++ base ++ traced
      (all, check(env, wl, all) ++ issues, Stats.tail(traced.map(_.ms))._1, traced.size)
    }
    log("measured and checked")
    val loadEnd = loadAvg1
    val sparkVersion = env.spark.version
    env.close()

    val units = (if (a.trace) PerLayer else EndToEnd).toMap
    val ordered = (if (a.trace) PerLayer else EndToEnd).map(_._1)
    require(ordered.forall(metrics.contains),
      s"metrics missing: ${ordered.filterNot(metrics.contains)}")

    val mapper = new ObjectMapper()
    val jm = new java.util.LinkedHashMap[String, Any]()
    ordered.foreach { k =>
      val v = new java.util.LinkedHashMap[String, Any]()
      v.put("value", metrics(k))
      v.put("unit", units(k))
      jm.put(k, v)
    }
    val result = new java.util.LinkedHashMap[String, Any]()
    result.put("correct", failures.isEmpty)
    result.put("attempted", recs.size)
    result.put("failed", failures.size)
    result.put("metrics", jm)

    val stamps = new java.util.LinkedHashMap[String, Any]()
    stamps.put("workload", a.workload)
    stamps.put("seed", a.seed)
    stamps.put("trace", a.trace)
    stamps.put("run_seconds", a.seconds)
    stamps.put("nproc", cpus)
    stamps.put("load1_start", loadStart)
    stamps.put("load1_end", loadEnd)
    stamps.put("spark_version", sparkVersion)
    stamps.put("jdk_version", System.getProperty("java.version"))
    stamps.put("input_bytes", inputs.bytes)
    val files = new java.util.LinkedHashMap[String, Any]()
    inputs.tables.foreach(t => files.put(t.name, t.files.size))
    stamps.put("input_files", files)
    stamps.put("gen_s", a.genS)
    stamps.put("op_tail_percentile", tailP)
    stamps.put("op_tail_samples", tailN)
    stamps.put("setup_s_each", cycles.map(_.setupS).mkString(","))
    stamps.put("setup_steps_ms_each", cycles.map(c => Seq(c.times.sessionMs,
      c.times.serverMs, c.times.catalogMs, c.times.warmupMs).map(_.round).mkString("/")).mkString(","))
    stamps.put("op_ms_each", recs.map(r => f"${r.ms}%.0f").mkString(","))
    stamps.put("warmup_ops", warm.size)
    stamps.put("failed_frac", failures.size.toDouble / recs.size)
    stamps.put("failures", failures.take(5).mkString(" ; "))
    val artifact = new java.util.LinkedHashMap[String, Any]()
    artifact.put("stamps", stamps)
    artifact.put("result", result)
    Files.writeString(Paths.get(a.out, s"$tag.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(artifact))

    stamps.forEach((k, v) => println(f"# $k%-28s $v"))
    ordered.foreach(k => println(f"${k}%-36s ${metrics(k)}%16.4f ${units(k)}"))
    println(s"correct: ${failures.isEmpty}  attempted: ${recs.size}  failed: ${failures.size}")
    println(mapper.writeValueAsString(result))
    System.out.flush()
    log("done")
    System.exit(0)
  }
}
