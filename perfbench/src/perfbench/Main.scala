package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** graft's benchmark driver. One JVM, one caller thread, Spark
  * `local[nproc]`, a closed loop of passes over seeded inputs:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *                  [--scale X] [--root DIR] [--expected FILE]
  *
  * `--trace 0` prints the end-to-end metrics; `--trace 1` runs untraced and
  * traced passes alternately and prints the per-layer metrics (plus the
  * tracing overhead). The last stdout line is the result object; the line
  * before it is a report with the weather stamp, the inputs' digests and
  * planted rates, and every metric the run measured. */
object Main {

  val ModuleLayers = Seq("tables", "profile", "quality", "normalize", "impute", "dedup",
    "outliers", "audit", "drift", "pipeline", "text", "functions", "sim")
  val LayerMetrics = Seq(("self_s", "s"), ("jobs", "count"), ("cpu_s", "s"),
    ("shuffle_mb", "MB"), ("driver_gap_s", "s"))
  val Kernels = Seq("TextQuality", "LangId", "GopherSignals", "MinHashSig", "LmScore",
    "DeflateLen", "VecCosine", "PqAdcSum")

  /** (name, unit, better) of every per-layer metric, in output order. */
  val PerLayer: Seq[(String, String, String)] =
    ModuleLayers.flatMap(l => LayerMetrics.map { case (m, u) => (s"$l.$m", u, "lower") }) ++ Seq(
      ("tables.rows_read", "count", "lower"), ("tables.mb_read", "MB", "lower"),
      ("dedup.candidate_pairs", "count", "lower"), ("dedup.pair_yield", "ratio", "higher")) ++
      Kernels.map(k => (s"functions.${k}_ns_row", "ns/row", "lower")) ++ Seq(
      ("sim.candidates_scanned", "count", "lower"), ("sim.rerank_yield", "ratio", "higher"),
      ("sim.recall_at_10", "ratio", "higher"),
      ("spark.plan_s", "s", "lower"), ("spark.jobs", "count", "lower"),
      ("spark.tasks", "count", "lower"), ("spark.driver_gap_s", "s", "lower"),
      ("spark.gc_s", "s", "lower"), ("spark.spill_mb", "MB", "lower"),
      ("storage.cached_mb_peak", "MB", "lower"), ("storage.retained_cache_mb", "MB", "lower"),
      ("trace.untraced_pass_s", "s", "lower"), ("trace.traced_pass_s", "s", "lower"),
      ("trace.overhead_s", "s", "lower"))

  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "cold_pass_s" -> "s",
    "op_ms_p50" -> "ms", "peak_heap_mb" -> "MB")

  val MinSteadyPasses = 2
  val MB = 1024.0 * 1024.0

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        scale: Double, root: String, expected: String,
                        data: String)

  def main(args: Array[String]): Unit = {
    val entry = System.nanoTime()
    if (args.contains("--list-metrics")) {
      PerLayer.foreach { case (n, u, b) => println(s"$n $u $b") }
      return
    }
    val o = parse(args)
    val w = Workloads.byName(o.workload).getOrElse(
      fail(s"unknown workload '${o.workload}' (${Workloads.all.map(_.name).mkString(", ")})"))
    val nproc = Runtime.getRuntime.availableProcessors()
    val loadBefore = loadavg()
    val root = new File(o.root).getAbsoluteFile
    val work = new File(root, s"work/${o.workload}-${ProcessHandle.current().pid()}")
    work.mkdirs()
    try run(o, w, nproc, root, work, loadBefore, entry)
    finally Gen.deleteTree(work)
  }

  private def run(o: Opts, w: Workload, nproc: Int, root: File, work: File,
                  loadBefore: String, entry: Long): Unit = {
    val phases = mutable.ArrayBuffer.empty[(String, Double)]
    var mark = entry
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases += name -> (now - mark) / 1e9
      mark = now
    }
    // set-up is what a one-shot run pays: main entry to session built and
    // inputs registered, cold Spark class loading included, the re-hash of
    // the generated inputs left out
    val g0 = System.nanoTime()
    val inputs = Gen.open(o.data)
    val genS = (System.nanoTime() - g0) / 1e9
    val spark = Session.build(nproc, root)
    w.tables.foreach(n => graft.Tables.load(spark, inputs.dir, n).createOrReplaceTempView(n))
    val setupS = (System.nanoTime() - entry) / 1e9 - genS
    phase("setup")
    val attribution = new Attribution
    if (o.trace) {
      spark.sparkContext.addSparkListener(attribution)
      spark.listenerManager.register(attribution)
    }
    val tracer = new Tracer(spark, o.trace)
    val ctx = Ctx(spark, tracer, inputs, work.getPath)

    final case class Done(pass: Int, traced: Boolean, wallS: Double, out: Option[PassOut],
                          error: Option[String], retainedMb: Double, heapMb: Double,
                          cachedPeakMb: Double)
    def runPass(i: Int, traced: Boolean): Done = {
      tracer.pass = i
      if (traced) { PerfbenchBus.drain(spark.sparkContext); attribution.resetPeak() }
      val t0 = System.nanoTime()
      val out = try Right(tracer.withTracing(traced)(w.pass(ctx)))
        catch { case e: Exception => Left(s"${e.getClass.getName}: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      tracer.releaseCheckpoints()
      val cachedPeak =
        if (!traced) 0.0
        else { PerfbenchBus.drain(spark.sparkContext); attribution.cachedPeakBytes / MB }
      // what the pass still holds once its results are consumed and every
      // release handle it got back has been called
      val retained = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / MB
      System.gc()
      val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB
      // later passes must not read an earlier pass's leftovers
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      Done(i, traced, wall, out.toOption, out.left.toOption, retained, heap, cachedPeak)
    }

    val cold = runPass(0, traced = false)
    phase("cold_pass")
    val steady = mutable.ArrayBuffer.empty[Done]
    val steadyStart = System.nanoTime()
    var i = 1
    // a traced run needs one pass of each kind; its e2e figures are unused
    val minUntraced = if (o.trace) 1 else MinSteadyPasses
    while (steady.count(!_.traced) < minUntraced ||
      (o.trace && !steady.exists(_.traced)) ||
      (System.nanoTime() - steadyStart) / 1e9 < o.seconds) {
      steady += runPass(i, traced = o.trace && i % 2 == 0)
      i += 1
    }
    val passes = cold +: steady.toSeq
    phase("steady_passes")

    // correctness: one digest for every pass, equal to the committed one
    val expected = expectedDigest(o)
    val reference = expected.orElse(cold.out.map(_.digest))
    val passFailures = passes.map { d =>
      d.error.map(e => s"pass ${d.pass}: $e").orElse(d.out.flatMap { out =>
        if (!reference.contains(out.digest))
          Some(s"pass ${d.pass}: digest ${out.digest} != ${reference.getOrElse("-")}")
        else out.checks.collectFirst { case (n, false) => s"pass ${d.pass}: $n failed" }
      })
    }.flatten
    val finals = try w.finalChecks(ctx).map { case (n, v, ok) => (n, v, ok, "") }
      catch { case e: Exception => Seq(("final_checks", Double.NaN, false, e.toString)) }
    phase("final_checks")
    val failures = passFailures ++ finals.collect { case (n, v, false, e) => s"$n = $v $e" }
    val attempted = passes.size + finals.size
    val failed = passFailures.size + finals.count(!_._3)

    val untraced = steady.filter(d => !d.traced && d.out.isDefined).toSeq
    val ok = (untraced :+ cold).flatMap(_.out)
    val timings = ok.flatMap(_.timings).groupBy(_._1).map { case (k, v) => k -> median(v.map(_._2)) }
    val ops = untraced.flatMap { d =>
      val out = d.out.get
      if (out.opMs.nonEmpty) out.opMs else Seq(d.wallS * 1000)
    }
    val e2e: Seq[(String, Double)] = Seq(
      "setup_s" -> setupS,
      "cold_pass_s" -> cold.wallS,
      "op_ms_p50" -> percentile(ops, 0.50),
      "peak_heap_mb" -> passes.map(_.heapMb).max)
    // rows_per_s restates op_ms_p50 (a fixed row count over the same pass
    // or probe times); a p95 from fewer than 200 samples has under ten
    // beyond it: both reported, not guarded
    val extra: Seq[(String, Double)] = timings.toSeq.sortBy(_._1) ++ Seq(
      "rows_per_s" -> median(untraced.map(d => d.out.get.rows / d.out.get.workSeconds.getOrElse(d.wallS))),
      "op_ms_p95" -> percentile(ops, 0.95),
      "failed_frac" -> failed.toDouble / attempted,
      "retained_cache_mb" -> passes.map(_.retainedMb).max) ++ finals.map(f => f._1 -> f._2)

    val layer: Seq[(String, Double)] =
      if (!o.trace) Nil
      else {
        PerfbenchBus.drain(spark.sparkContext)
        val kernelNs = runKernels(w, ctx)
        PerfbenchBus.drain(spark.sparkContext)
        layerMetrics(tracer, attribution, steady.toSeq.map(d => (d.pass, d.traced, d.wallS,
          Map("storage.retained_cache_mb" -> d.retainedMb, "storage.cached_mb_peak" -> d.cachedPeakMb))),
          w.traceCounts(ctx) ++ kernelNs ++ finals.map(f => s"sim.${f._1}" -> f._2))
      }
    if (o.trace) {
      writeSpans(root, o, tracer)
      phase("trace_extras")
    }

    val loadAfter = loadavg()
    val shown = if (o.trace) layer else e2e
    val units = (EndToEnd ++ PerLayer.map(p => p._1 -> p._2)).toMap
    val report = Json.obj(
      "workload" -> w.name, "seed" -> o.seed, "scale" -> o.scale, "trace" -> o.trace,
      "weather" -> Json.obj("nproc" -> nproc, "spark_master" -> s"local[$nproc]",
        "caller_threads" -> 1, "loadavg_before" -> loadBefore, "loadavg_after" -> loadAfter),
      "inputs" -> Json.obj("dir" -> inputs.dir,
        "files" -> inputs.files.map(f => Json.obj("table" -> f._1, "sha256" -> f._2, "rows" -> f._3)),
        "planted" -> Json.Obj(inputs.planted)),
      "passes" -> Json.obj("cold" -> 1, "steady_untraced" -> untraced.size,
        "steady_traced" -> steady.count(_.traced), "op_samples" -> ops.size,
        "pass_s" -> passes.map(_.wallS)),
      "phase_s" -> Json.Obj(phases.toSeq),
      "digest" -> reference.getOrElse(""), "expected_digest" -> expected.getOrElse(""),
      "failures" -> failures,
      "metrics" -> Json.Obj((e2e ++ extra ++ layer).map { case (k, v) =>
        k -> Json.obj("value" -> v, "unit" -> units.getOrElse(k, unitOf(k)))
      }))
    println(Json(Json.obj("report" -> report)))
    println(Json(Json.obj(
      "correct" -> failures.isEmpty, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.Obj(shown.map { case (k, v) => k -> Json.obj("value" -> v, "unit" -> units(k)) }))))
    spark.stop()
  }

  private def unitOf(k: String): String =
    if (k.endsWith("_s")) "s" else if (k.endsWith("_ms") || k.contains("_ms_")) "ms"
    else if (k.endsWith("_mb")) "MB" else "ratio"

  /** functions.<k>_ns_row: each kernel's public column function over a
    * cached frame cut from the workload's inputs, minus a pass-through
    * baseline over the same frame; median of `Reps` runs after a warm-up. */
  private def runKernels(w: Workload, c: Ctx): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions.max
    val Reps = 3
    c.t.pass = -1
    val ks = w.kernels(c)
    val measured = ks.map { k =>
      val rows = k.frame.count()
      def time(e: org.apache.spark.sql.Column, traced: Boolean): Double = {
        k.frame.agg(max(e)).collect()
        median((1 to Reps).map { _ =>
          val t0 = System.nanoTime()
          c.t.withTracing(traced)(c.t.call("functions", k.name)(k.frame.agg(max(e)).collect()))
          (System.nanoTime() - t0).toDouble
        })
      }
      val kernel = time(k.expr, traced = true)
      val base = time(k.baseline, traced = false)
      s"functions.${k.name}_ns_row" -> math.max(0.0, (kernel - base) / rows)
    }
    ks.map(_.frame).distinct.foreach(_.unpersist(true))
    Kernels.map(k => s"functions.${k}_ns_row" -> measured.toMap.getOrElse(s"functions.${k}_ns_row", 0.0))
  }

  /** Per-layer metrics: median over the traced passes of each pass's
    * totals; the functions layer comes from the kernel phase (pass -1). */
  private def layerMetrics(t: Tracer, a: Attribution,
                           steady: Seq[(Int, Boolean, Double, Map[String, Double])],
                           counts: Seq[(String, Double)]): Seq[(String, Double)] = {
    val byParent = t.spans.groupBy(_.parent)
    def self(s: Span): Long = s.wall - byParent.getOrElse(s.id, Nil).map(_.wall).sum
    def chargeOf(s: Span): Charge = a.charges.getOrElse(s"pb-${s.id}", new Charge)
    val allStages = a.charges.values.flatMap(_.stageIntervals).toSeq
    def busy(iv: Seq[(Long, Long)], from: Long, to: Long): Long =
      union(iv.map { case (s, e) => (math.max(s, from), math.min(e, to)) }.filter(p => p._2 > p._1))
    def gap(s: Span): Double =
      math.max(0L, self(s) - busy(chargeOf(s).stageIntervals.toSeq, s.start, s.end)) / 1e9

    def perPass(spans: Seq[Span]): Map[String, Double] = {
      val m = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
      spans.foreach { s =>
        val c = chargeOf(s)
        m(s"${s.layer}.self_s") += self(s) / 1e9
        m(s"${s.layer}.jobs") += c.jobs
        m(s"${s.layer}.cpu_s") += c.cpuNs / 1e9
        m(s"${s.layer}.shuffle_mb") += c.shuffleBytes / MB
        m(s"${s.layer}.driver_gap_s") += gap(s)
        m("spark.jobs") += c.jobs
        m("spark.tasks") += c.tasks
        m("spark.gc_s") += c.gcMs / 1e3
        m("spark.spill_mb") += c.spillBytes / MB
        if (s.layer == "tables") {
          m("tables.rows_read") += c.recordsRead
          m("tables.mb_read") += c.bytesRead / MB
        }
      }
      val probes = spans.filter(_.name == "IvfPq.topKRerank").map(s => chargeOf(s).recordsRead.toDouble)
      if (probes.nonEmpty) m("sim.candidates_scanned") = median(probes)
      val top = spans.filter(_.parent == 0L)
      m("spark.driver_gap_s") = top.map(s => math.max(0L, s.wall - busy(allStages, s.start, s.end))).sum / 1e9
      m("spark.plan_s") = a.planPhases.filter { case (st, _) =>
        top.exists(s => st >= s.start && st < s.end) }.map(_._2).sum / 1e9
      m("trace.traced_pass_s") = top.map(_.wall).sum / 1e9
      m.toMap
    }

    val traced = steady.filter(_._2)
    val passMaps = traced.map { case (p, _, _, storage) =>
      perPass(t.spans.filter(_.pass == p).toSeq) ++ storage
    }
    val kernelPass = perPass(t.spans.filter(_.pass == -1).toSeq)
    val untracedS = median(steady.filterNot(_._2).map(_._3))
    val counted = counts.toMap
    PerLayer.map(_._1).map { name =>
      val v =
        if (name == "trace.untraced_pass_s") untracedS
        else if (name == "trace.overhead_s")
          median(passMaps.map(_.getOrElse("trace.traced_pass_s", 0.0))) - untracedS
        else if (counted.contains(name)) counted(name)
        else if (name.startsWith("functions.")) kernelPass.getOrElse(name, 0.0)
        else median(passMaps.map(_.getOrElse(name, 0.0)))
      name -> v
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s >= end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }

  private def writeSpans(root: File, o: Opts, t: Tracer): Unit = {
    val dir = new File(root, "traces")
    dir.mkdirs()
    val lines = t.spans.map(s => Json(Json.obj("id" -> s.id, "parent" -> s.parent,
      "pass" -> s.pass, "layer" -> s.layer, "name" -> s.name,
      "start_ns" -> s.start, "end_ns" -> s.end)))
    Files.write(new File(dir, s"${o.workload}-s${o.seed}.jsonl").toPath,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def loadavg(): String =
    try new String(Files.readAllBytes(new File("/proc/loadavg").toPath), "UTF-8").trim
    catch { case _: Exception => "" }

  /** Committed digests: lines of `workload seed scale digest`. */
  private def expectedDigest(o: Opts): Option[String] = {
    val f = new File(o.expected)
    if (!f.exists()) None
    else new String(Files.readAllBytes(f.toPath), "UTF-8").split("\n").toSeq
      .filterNot(_.startsWith("#")).map(_.trim.split("\\s+")).collectFirst {
        case Array(w, s, x, d) if w == o.workload && s == o.seed.toString &&
          x.toDouble == o.scale => d
      }
  }

  private def fail(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String, d: String): String = kv.getOrElse(k, d)
    if (!kv.contains("workload") || !kv.contains("data")) fail("--workload and --data are required")
    try Opts(kv("workload"), get("seed", "1").toLong, get("seconds", "10").toDouble,
      get("trace", "0") == "1", get("scale", "1.0").toDouble,
      get("root", ".bench_build"), get("expected", "perfbench/expected_digests.txt"), kv("data"))
    catch { case e: NumberFormatException => fail(s"bad argument: ${e.getMessage}") }
  }
}

object Session {
  def build(cpus: Int, root: File): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.host", "127.0.0.1")
    .config("spark.driver.bindAddress", "127.0.0.1")
    .config("spark.local.dir", new File(root, "spark-local").getPath)
    .config("spark.sql.warehouse.dir", new File(root, "warehouse").getPath)
    .getOrCreate()
}
