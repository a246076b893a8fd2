package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Round-7 optimization probes (guide §1.4/§1.5) — SEPARATE from the
  * frozen Bench harness:
  *
  *   micro <corpusParquet> [n]    — driver-side per-row component timing
  *     of the curation annotate() path (cascade / langid / quality /
  *     tokens / scrub) over n sampled docs, single-threaded.
  *   query <sfDir> <name...>      — run catalog entries twice with a job
  *     listener: per-Spark-job wall + description, so multi-job entries
  *     show where their fixed latency sits.
  *   noop <sfDir> <name...>       — noop-sink isolation (computes every
  *     column, discards output) vs the bench's count() action.
  */
object BenchExtra {

  def main(args: Array[String]): Unit = args.headOption.getOrElse("") match {
    case "micro" => micro(args(1), if (args.length > 2) args(2).toInt else 20000)
    case "query" => query(args(1), args.drop(2), noop = false)
    case "noop"  => query(args(1), args.drop(2), noop = true)
    case "plan"  => plan(args(1), args(2), args.drop(3))
    case _ => Console.err.println(
      "usage: BenchExtra micro <corpusParquet> [n] | query <sfDir> <name...> | " +
        "noop <sfDir> <name...> | plan <sfDir> <outDir> <name...>")
  }

  /** Dump .explain("formatted") of catalog entries to <outDir>/<name>.txt
    * (the plans/r07 before/after artifacts).
    */
  private def plan(sfDir: String, outDir: String, names: Array[String]): Unit = {
    val spark = session()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"$name.txt"), txt.getBytes("UTF-8"))
      println(s"[plan] wrote $outDir/$name.txt (${txt.length} chars)")
    }
    spark.stop()
  }

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Mean length in chars; 0 for an empty corpus. */
  private[graft] def avgLength(texts: scala.collection.Seq[String]): Long =
    texts.map(_.length.toLong).sum / math.max(1, texts.length)

  // ---------------- per-row component micro ----------------
  private def micro(corpus: String, n: Int): Unit = {
    val spark = session()
    val texts = spark.read.parquet(corpus).select("text").limit(n)
      .collect().map(_.getString(0))
    spark.stop()
    println(s"[micro] ${texts.length} docs, avg len ${avgLength(texts)}")

    def time(label: String)(f: String => Any): Unit = {
      // warmup pass then two timed passes; report best (C2 ramp)
      texts.foreach(f)
      val runs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        texts.foreach(f)
        (System.nanoTime() - t0) / 1e9
      }
      val sec = runs.min
      println(f"[micro] $label%-22s ${sec}%8.3f s  ${sec * 1e6 / texts.length}%8.2f us/doc")
    }

    val filters = graft.filters.HeuristicFilters.englishCascade
    time("cascade.evaluate")(t => graft.filters.Cascade.evaluate(filters, t))
    time("heuristicLangId")(t => graft.analysis.TextStats.heuristicLangId(t))
    time("qualityScore")(t => graft.analysis.TextStats.qualityScore(t))
    time("bpeTokenCount")(t => graft.analysis.TextStats.bpeTokenCount(t))
    time("scrubPii+profanity")(t =>
      graft.scrub.PiiScrub.defaultScrubber.scrub(graft.scrub.PiiScrub.scrubPii(t)))
    time("annotate(full)")(t => graft.pipeline.CurationPipeline.annotate(t))
    // per-filter breakdown of the cascade (each filter scored on ALL
    // docs — the cascade itself early-exits, so this is an upper bound
    // that still ranks the per-filter cost correctly)
    filters.foreach { f =>
      time(s"  hf:${f.name}")(t => f.score(t))
    }
  }

  // ---------------- catalog-entry job profile ----------------
  private def query(sfDir: String, names: Array[String], noop: Boolean): Unit = {
    val spark = session()
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.put(js.jobId, (js.time, Option(js.properties.getProperty("spark.job.description")).getOrElse("")))
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val (t0, desc) = jobs.getOrDefault(je.jobId, (je.time, "?"))
        println(f"[job] id=${je.jobId}%-4d ${(je.time - t0) / 1e3}%7.3f s  $desc")
      }
    })
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to 2).foreach { pass =>
        spark.sparkContext.setJobDescription(s"$name pass$pass")
        val t0 = System.nanoTime()
        if (noop) fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        else fn(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[entry] $name pass$pass ${if (noop) "noop" else "count"} $sec%.3f s")
      }
    }
    spark.stop()
  }
}
