package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBridge
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in a fresh JVM:
  *
  *   set-up: SparkSession (`local[nproc]`, the apps' settings), the
  *   generated and validated inputs, three untimed warm-up passes on a
  *   different slice;
  *   timed part: whole passes, each on a fresh output root, until
  *   `--seconds` have passed (at least four), then the last pass's
  *   outputs checked;
  *   traced runs (`--trace 1`): passes 1 and 2 of every four traced,
  *   then the single-thread kernel micro-pass.
  *
  * Writes the result (metrics, checks, host context) to `--out` and, for
  * traced runs, the spans to `--spans`.
  */
object Main {

  /** Percentile of the commit intervals reported as `commit_tail_s`. */
  val TailPct = 75.0

  /** Untimed passes in set-up. Pass times fall by about a fifth over
    * the first five passes after JVM start while the JIT compiles the hot
    * paths, and by a few percent per ten passes after that. */
  val WarmupPasses = 3

  /** Timed passes the end-to-end figures come from: the first ones that
    * other guests left alone. A fixed count at fixed positions, so that a
    * run on a faster host, which fits more passes into `--seconds`, does
    * not also take its figures from later, more JIT-warmed passes; the
    * passes after them stand in for disturbed ones. */
  val MeasuredPasses = 4

  val SpanNames = Seq("io.unit", "pipeline.metrics", "dedup.exact", "dedup.fuzzy.minhashes",
    "dedup.fuzzy.edges", "dedup.fuzzy.components", "dedup.incremental.exact", "dedup.incremental.fuzzy")

  final case class PassStat(traced: Boolean, docsPerS: Double, cpuSPerKdoc: Double, heapMb: Double,
                            outBytesPerDoc: Double, intervals: Seq[Double], steal: Double)

  /** Share of the host's CPU time that other guests may take (steal)
    * during a pass before the pass is left out of the end-to-end figures:
    * on a shared host, passes with a few percent of steal run 10–20%
    * slower, and with a quarter of it more than twice as slow. */
  val MaxSteal = 0.01

  /** How long an untraced run goes on past `--seconds` while fewer than
    * `MeasuredPasses` passes were left alone. Steal comes in spells of a
    * few minutes; a run that waits out part of one leaves fewer runs
    * inside it, and a run stays well inside its time limit. */
  val MaxWaitS = 45.0

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile (0 for no samples). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val r = p / 100 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val files = Files.walk(p)
    try files.iterator().asScala.toList.reverse.foreach(Files.delete) finally files.close()
  }

  private def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val files = Files.walk(p)
    try files.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally files.close()
  }

  private def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      // the apps' own session settings (CurateApp and friends)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // one shuffle partition per core, as the repo's Bench and soak
      // mains size local sessions (a cluster deploy sets it per cluster)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // keep every file the run writes inside its work directory
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `--archive`: one small untimed pass of every workload, so that the
    * JVM started with -XX:ArchiveClassesAtExit archives every class a
    * run loads (class-data sharing for the runs that follow).
    */
  private def archivePass(work: Path): Unit = {
    val spark = session(Runtime.getRuntime.availableProcessors, work)
    Seq("curate" -> 200L, "dedup" -> 300L, "incremental" -> 100L).foreach { case (name, docs) =>
      val w = Workload(name, spark, work, 0L, Some(docs))
      w.prepare()
      val root = work.resolve("passes").resolve(name)
      w.pass(root, warm = false, new Tracer(spark.sparkContext, enabled = false))
      w.check(root)
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (opt.contains("archive")) return archivePass(Path.of(opt("work")).toAbsolutePath)
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val work = Path.of(opt("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val runId = f"$name-$seed-${ProcessHandle.current().pid()}%d"
    HeapAfterGc.install()

    val spark = session(cores, work)
    val sc = spark.sparkContext
    val counter = new TaskCounter
    sc.addSparkListener(counter)
    val sessionS = (Clock.nowMs - jvmStart) / 1e3

    val w = Workload(name, spark, work, seed)
    val t0 = Clock.nowMs
    w.prepare()
    val inputsS = (Clock.nowMs - t0) / 1e3
    val t1 = Clock.nowMs
    (0 until WarmupPasses).foreach { i =>
      val warmRoot = work.resolve("passes").resolve(s"warmup$i")
      w.pass(warmRoot, warm = true, new Tracer(sc, enabled = false))
      deleteTree(warmRoot)
    }
    val warmupS = (Clock.nowMs - t1) / 1e3
    val setupS = (Clock.nowMs - jvmStart) / 1e3
    System.err.println(f"[perfbench] set-up $setupS%.2f s (session $sessionS%.2f, inputs $inputsS%.2f, warm-up $warmupS%.2f)")

    // at least four passes; a traced run makes two of each kind
    val minPasses = 4
    val stats = mutable.ArrayBuffer.empty[PassStat]
    val layer = mutable.ArrayBuffer.empty[Map[String, Double]]
    val spansOut = mutable.ArrayBuffer.empty[(Int, Span, Double)]
    val checkResults = mutable.LinkedHashMap.empty[String, Int]
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    val recorder = new JobRecorder
    // the outputs of the latest pass that completed, kept for the checks
    var lastRoot: Option[Path] = None
    val loopStart = Clock.nowMs
    var k = 0
    def undisturbedCount = stats.count(p => !p.traced && p.steal <= MaxSteal)
    def elapsedS = (Clock.nowMs - loopStart) / 1e3
    while (errors.isEmpty && (k < minPasses || elapsedS < seconds ||
        (!trace && undisturbedCount < MeasuredPasses && elapsedS < seconds + MaxWaitS))) {
      // untraced, traced, traced, untraced: JIT warm-up still speeds up
      // later passes, and this order gives both kinds the same mean position
      val traced = trace && (k % 4 == 1 || k % 4 == 2)
      // a fresh output, cache and index root: the resumable paths skip
      // committed work, so a reused root would make a pass look fast
      val root = work.resolve("passes").resolve(s"p$k")
      deleteTree(root)
      val tr = new Tracer(sc, traced)
      System.gc()
      if (traced) { recorder.clear(); sc.addSparkListener(recorder); tr.startSampling() }
      HeapAfterGc.reset()
      val cpu0 = Proc.cpuNs
      val host0 = Proc.hostJiffies
      val tasks0 = counter.launched.get
      val failedTasks0 = counter.failedTasks.get
      val res = try Some(w.pass(root, warm = false, tr)) catch {
        case e: Throwable => errors += s"pass $k threw: $e"; e.printStackTrace(); None
      }
      val cpuS = (Proc.cpuNs - cpu0) / 1e9
      val host1 = Proc.hostJiffies
      val steal = (host1._1 - host0._1).toDouble / math.max(1L, host1._2 - host0._2)
      res.foreach(r => System.err.println(
        f"[perfbench] pass $k${if (traced) " (traced)" else ""}: ${(r.endMs - r.startMs) / 1e3}%.2f s, steal $steal%.3f"))
      val heap = HeapAfterGc.peakMb
      BenchBridge.drainListeners(sc)
      attempted += w.commitsPerPass + (counter.launched.get - tasks0) + 1
      failed += (counter.failedTasks.get - failedTasks0) + (if (res.isEmpty) 1 else 0)
      res.foreach { r =>
        val wall = (r.endMs - r.startMs) / 1e3
        val bounds = r.startMs +: r.commits
        val intervals = bounds.zip(bounds.drop(1)).map { case (a, b) => (b - a) / 1e3 }
        if (r.commits.size != w.commitsPerPass)
          errors += s"pass $k saw ${r.commits.size} commits, expected ${w.commitsPerPass}"
        stats += PassStat(traced, r.docs / wall, cpuS / (r.docs / 1000.0), heap,
          treeBytes(root).toDouble / r.docs, intervals, steal)
        if (traced) {
          tr.stopSampling()
          val jobs = recorder.jobs.values.asScala.toSeq
          w.deriveSpans(tr, jobs)
          layer += passLayer(w, root, r, tr, jobs, cores)
          spansOut ++= tr.spans.map(s => (k, s, selfTime(s, tr.spans.toSeq)))
        }
        lastRoot.foreach(deleteTree)
        lastRoot = Some(root)
      }
      if (traced) { sc.removeSparkListener(recorder); tr.stopSampling() }
      if (!lastRoot.contains(root)) deleteTree(root)
      k += 1
    }
    val timedS = elapsedS

    // every pass runs the same inputs; the last completed one's outputs
    // are checked once the timed passes are over, so that no check runs
    // between two timed passes
    lastRoot.foreach { root =>
      val tCheck = Clock.nowMs
      w.check(root).foreach { case (c, ok) =>
        checkResults(c) = if (ok) 0 else 1
        if (!ok) failed += 1
      }
      System.err.println(f"[perfbench] checks of the last pass: ${(Clock.nowMs - tCheck) / 1e3}%.2f s")
      deleteTree(root)
    }

    val untraced = stats.filterNot(_.traced).toSeq
    // the end-to-end figures come from the first untraced passes that
    // other guests on the host left alone, where there are at least two
    val undisturbed = untraced.filter(_.steal <= MaxSteal)
    val measured = if (undisturbed.size >= 2) undisturbed.take(MeasuredPasses) else untraced
    val intervals = measured.flatMap(_.intervals)
    val e2e: Seq[(String, Double, String)] = Seq(
      ("docs_per_s", median(measured.map(_.docsPerS)), "docs/s"),
      ("cpu_s_per_kdoc", median(measured.map(_.cpuSPerKdoc)), "s"),
      ("peak_heap_mb", median(measured.map(_.heapMb)), "MB"),
      ("output_bytes_per_doc", median(measured.map(_.outBytesPerDoc)), "B"),
      ("commit_p50_s", percentile(intervals, 50), "s"),
      ("commit_tail_s", percentile(intervals, TailPct), "s"),
      ("setup_s", setupS, "s"))

    val perLayer: Seq[(String, Double, String)] = if (!trace) Nil else {
      val kernels = Kernels.run(w.sampleDocs(400))
      val traceDocs = stats.filter(_.traced).map(_.docsPerS).toSeq
      val merged = layer.flatMap(_.keys).distinct.map(key => key -> median(layer.flatMap(_.get(key)).toSeq))
      val annotateUs = kernels("pipeline.annotate.us_per_doc")
      val unitCpu = median(layer.map(_.getOrElse("io.unit.cpu_s", 0.0)).toSeq)
      val udfShare = if (unitCpu > 0) annotateUs * w.docsPerPass / 1e6 / unitCpu else 0.0
      val overhead = 1 - median(traceDocs) / median(untraced.map(_.docsPerS))
      (kernels.toSeq ++ merged ++ Seq("pipeline.udf_share" -> udfShare, "trace.overhead_share" -> overhead))
        .map { case (key, v) => (key, v, unitOf(key)) }
    }

    // HostCanary.efficiency(1, nproc) with a sixth of its iterations:
    // the same probe kernel and ratio, in about a second instead of five
    val tc = Clock.nowMs
    graft.HostCanary.throughput(2, 30000000L)
    val canary = graft.HostCanary.throughput(cores, 50000000L) /
      (graft.HostCanary.throughput(1, 50000000L) * cores)
    val canaryS = (Clock.nowMs - tc) / 1e3
    val context = Seq(
      "run_id" -> Json.str(runId), "nproc" -> cores.toString,
      "java_version" -> Json.str(System.getProperty("java.version")),
      "spark_version" -> Json.str(spark.version),
      "canary_eff_1_to_nproc" -> Json.num(canary), "canary_s" -> Json.num(canaryS),
      "session_s" -> Json.num(sessionS), "inputs_s" -> Json.num(inputsS), "warmup_s" -> Json.num(warmupS),
      "timed_s" -> Json.num(timedS), "passes" -> stats.size.toString,
      "traced_passes" -> stats.count(_.traced).toString,
      "measured_passes" -> measured.size.toString,
      "pass_steal" -> Json.arr(stats.map(p => Json.num(p.steal)).toSeq),
      "docs_per_pass" -> w.docsPerPass.toString,
      "commit_samples" -> intervals.size.toString, "commit_tail_pct" -> Json.num(TailPct),
      "failed_share" -> Json.num(failed.toDouble / math.max(1L, attempted)),
      "checks_failed" -> Json.obj(checkResults.toSeq.map { case (c, n) => c -> n.toString }),
      "errors" -> Json.arr(errors.map(Json.str).toSeq))
    val metrics = (if (trace) perLayer else e2e).map { case (key, v, unit) =>
      key -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
    }
    val correct = errors.isEmpty && checkResults.values.forall(_ == 0) && stats.nonEmpty
    val result = Json.obj(Seq(
      "correct" -> correct.toString, "attempted" -> math.max(1L, attempted).toString,
      "failed" -> failed.toString, "metrics" -> Json.obj(metrics), "context" -> Json.obj(context)))
    Files.writeString(Path.of(opt("out")), result + "\n")

    opt.get("spans").filter(_ => trace).foreach { path =>
      val lines = spansOut.map { case (pass, s, self) =>
        Json.obj(Seq("run_id" -> Json.str(runId), "pass" -> pass.toString, "id" -> s.id.toString,
          "name" -> Json.str(s.name), "parent" -> s.parent.toString, "start_ms" -> Json.num(s.start),
          "end_ms" -> Json.num(s.end), "self_s" -> Json.num(self)))
      }
      Files.writeString(Path.of(path), lines.mkString("", "\n", "\n"))
    }
    spark.stop()
  }

  /** Span duration minus the part its child spans cover, in seconds. */
  def selfTime(s: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent == s.id).map(c => (c.start, c.end))
    (s.end - s.start - SpanMetrics.covered(kids, s.start, s.end)) / 1e3
  }

  def unitOf(key: String): String = key match {
    case k if k.endsWith("_s") => "s"
    case k if k.endsWith(".us_per_doc") => "us"
    case k if k.endsWith("_bytes") || k.endsWith(".bytes_written") => "B"
    case k if k.endsWith(".rows_read") => "rows"
    case k if k.endsWith(".jobs") || k.endsWith(".iterations") => "count"
    case k if k.endsWith("rows_read_per_batch_doc") => "rows/doc"
    case k if k.endsWith("_per_doc") => "count"
    case _ => "ratio"
  }

  /** Per-layer metrics of one traced pass. */
  private def passLayer(w: Workload, root: Path, r: PassResult, tr: Tracer,
                        jobs: Seq[JobRec], cores: Int): Map[String, Double] = {
    val inPass = jobs.filter(j => j.start >= r.startMs && j.start <= r.endMs)
    val bySpan = SpanMetrics.jobsBySpan(tr.spans.toSeq, inPass, tr.groupOf)
    val out = mutable.LinkedHashMap.empty[String, Double]
    SpanNames.foreach { n =>
      val totals = tr.spans.filter(_.name == n).map(s => SpanMetrics.of(s, bySpan.getOrElse(s.id, Nil), inPass, tr, cores))
      SpanMetrics.fields.foreach { case (f, get) => out(s"$n.$f") = totals.map(get).sum }
    }
    out("io.scan_amplification") = inPass.map(_.recordsRead).sum.toDouble / r.docs
    out("dedup.cc.iterations") = inPass.count(_.callSite.contains("ConnectedComponents$.checksum")).toDouble
    // workloads without fuzzy dedup read 0; the dedup workload sets it
    out("dedup.lsh.removed_per_edge") = 0.0
    // snapshot 0 meets an empty index, so its reads are all batch-side;
    // what later snapshots read beyond that is index rows
    val snaps = tr.spans.filter(_.name == "dedup.incremental.snapshot").sortBy(_.start)
    out("dedup.incremental.index_rows_read_per_batch_doc") = if (snaps.size < 2) 0.0 else {
      val reads = snaps.map(s => bySpan.getOrElse(s.id, Nil).map(_.recordsRead).sum.toDouble)
      val perSnapDocs = r.docs.toDouble / snaps.size
      reads.tail.map(_ - reads.head).sum / (perSnapDocs * (snaps.size - 1))
    }
    out ++= w.layerCounts(root)
    out.toMap
  }
}

/** Minimal JSON rendering for the result and span files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
