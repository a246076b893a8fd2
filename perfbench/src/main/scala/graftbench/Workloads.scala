package graftbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{ConnectedComponents, ExactDedup, FuzzyCheckpoint, IncrementalDedup, MinHashLSH}
import graft.fixtures.CCPages
import graft.io.ManifestParquetIO
import graft.pipeline.CurationPipeline

/** What one pass of a workload did, as seen from outside the program. */
final case class PassResult(docs: Long, startMs: Double, endMs: Double, commits: Seq[Double])

/** Generated inputs: slices of the deterministic `CCPages` stream,
  * written together as parquet under a directory keyed by the seed and
  * size, and validated by row count and content digest before use.
  */
object Corpus {
  /** Slices of different seeds never overlap. */
  val SeedStride = 10000000L
  val Partitions: Int = Runtime.getRuntime.availableProcessors

  /** `size` pages of the stream from page `start`, cut into snapshots of
    * `snapshotDocs` pages (0: one piece).
    */
  final case class Slice(name: String, start: Long, size: Long, snapshotDocs: Long = 0L) {
    def pieces: Int = if (snapshotDocs <= 0) 1 else (size / snapshotDocs).toInt
  }

  private val digestCols = Seq(count(lit(1)).as("rows"),
    expr("bit_xor(xxhash64(url, warc_ts, html, text, lang))").as("digest"))

  private def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(digestCols.head, digestCols.tail: _*).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Writes every slice in one job under `dir/key` and checks the files
    * read back against the row count and digest observed on the
    * generated rows. Returns each slice's piece directories.
    */
  def generate(spark: SparkSession, dir: Path, key: String, slices: Seq[Slice]): Map[String, Seq[String]] = {
    val path = dir.resolve(key).toString
    // page i has url .../page/<i>
    val index = regexp_extract(col("url"), "/page/(\\d+)$", 1).cast("long")
    val rows = slices.map { s =>
      val piece = if (s.snapshotDocs <= 0) lit(0) else ((index - s.start) / s.snapshotDocs).cast("int")
      CCPages.generateRange(spark, s.start, s.start + s.size, Partitions)
        .withColumn("slice", lit(s.name)).withColumn("piece", piece)
    }.reduce(_ unionByName _)
    val obs = org.apache.spark.sql.Observation()
    rows.observe(obs, digestCols.head, digestCols.tail: _*)
      .write.mode(SaveMode.Overwrite).partitionBy("slice", "piece").parquet(path)
    val generated = (obs.get("rows").asInstanceOf[Long], Option(obs.get("digest")).fold(0L)(_.asInstanceOf[Long]))
    require(generated._1 == slices.map(_.size).sum, s"$path has ${generated._1} rows")
    require(digest(spark.read.parquet(path)) == generated, s"$path does not match its digest")
    slices.map(s => s.name -> (0 until s.pieces).map(k => s"$path/slice=${s.name}/piece=$k")).toMap
  }

  def withIds(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).select(xxhash64(col("url")).as("doc_id"), col("text"))
}

/** One benchmark workload: the timed body of a production job called
  * through its public functions, and the checks its outputs must pass.
  */
abstract class Workload(val spark: SparkSession, val work: Path, val seed: Long) {
  def name: String
  def docsPerPass: Long
  /** Commits per pass (each one an attempted operation). */
  def commitsPerPass: Int
  def prepare(): Unit
  def pass(root: Path, warm: Boolean, tr: Tracer): PassResult
  /** Named output checks of the pass that just wrote `root`. */
  def check(root: Path): Seq[(String, Boolean)]
  /** Spans derived from job records after a traced pass. */
  def deriveSpans(tr: Tracer, jobs: Seq[JobRec]): Unit = ()
  /** Workload-specific per-layer counts of a traced pass. */
  def layerCounts(root: Path): Map[String, Double] = Map.empty
  /** A seeded sample of the input documents: (text, html bytes). */
  def sampleDocs(k: Int): Seq[(String, Array[Byte])]

  protected def seedStart: Long = seed * Corpus.SeedStride
  protected val inputs: Path = work.resolve("inputs")

  protected def sample(path: String, k: Int): Seq[(String, Array[Byte])] = {
    val df = spark.read.parquet(path)
    val n = df.count()
    val mod = math.max(1L, n / k)
    df.filter(pmod(xxhash64(col("url"), lit(seed)), lit(mod)) === 0)
      .select("text", "html").collect().toSeq.take(k)
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1)))
  }
}

/** Manifest tail: timestamps at which new lines land in a manifest
  * file, polled every millisecond from a daemon thread.
  */
final class ManifestPoller(file: Path, marker: String) {
  @volatile private var running = true
  private val times = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var seen = 0
  private var size = 0L

  private def poll(): Unit = {
    val now = Clock.nowMs
    val grown = try Files.size(file) != size catch { case _: java.io.IOException => false }
    if (grown) {
      try {
        val lines = Files.readAllLines(file).asScala
        size = lines.map(_.length + 1L).sum
        val n = lines.count(_.contains(marker))
        while (seen < n) { times.synchronized(times += now); seen += 1 }
      } catch { case _: java.io.IOException => }
    }
  }

  private val thread = new Thread(() => while (running) { poll(); Thread.sleep(1) },
    "graftbench-manifest-poller")
  thread.setDaemon(true)
  thread.start()

  def stop(): Seq[Double] = {
    running = false
    thread.join()
    poll()
    times.synchronized(times.toList)
  }
}

object Workload {
  /** The benchmark's workloads at their run sizes; `docs` scales one
    * down (the class-archive pass). */
  def apply(name: String, spark: SparkSession, work: Path, seed: Long,
            docs: Option[Long] = None): Workload = name match {
    case "curate" => new CurateWorkload(spark, work, seed, docs.getOrElse(1200L))
    case "dedup" => new DedupWorkload(spark, work, seed, docs.getOrElse(2400L))
    case "incremental" => new IncrementalWorkload(spark, work, seed, 2, docs.getOrElse(300L))
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}

/** `CurateApp`'s body: url-hash units → `runCheckpointed` →
  * `CurationPipeline.curate` → lang-partitioned parquet and a unit
  * manifest, then the per-filter metrics table and the kept count.
  */
final class CurateWorkload(spark: SparkSession, work: Path, seed: Long, docs: Long)
    extends Workload(spark, work, seed) {
  /** CurateApp's unit count is its third argument (default 64). Each
    * unit is one scan of the whole input plus one write job, so a pass
    * costs about half a second per unit on a 4-core host whatever the
    * input size; 8 units keep a pass to a few seconds. */
  val Units = 8
  val name = "curate"
  val docsPerPass: Long = docs
  val commitsPerPass: Int = Units
  private var timed: String = _
  private var warmup: String = _

  def prepare(): Unit = {
    val p = Corpus.generate(spark, inputs, s"curate-seed$seed-n$docs", Seq(
      Corpus.Slice("timed", seedStart, docs), Corpus.Slice("warmup", seedStart + Corpus.SeedStride / 2, docs)))
    timed = p("timed").head
    warmup = p("warmup").head
  }

  def pass(root: Path, warm: Boolean, tr: Tracer): PassResult = {
    val out = root.toString
    val poller = new ManifestPoller(root.resolve("curated_manifest.jsonl"), "unit_commit")
    val t0 = Clock.nowMs
    var commitTimes: Seq[Double] = Nil
    try {
      tr.span("io.run") {
        val io = new ManifestParquetIO(out)
        val pages = spark.read.parquet(if (warm) warmup else timed)
          .withColumn("unit", pmod(xxhash64(col("url")), lit(Units)).cast("string"))
        val partCols = if (pages.columns.contains("lang")) Seq("lang") else Nil
        var unitSpan = -1
        val leftover = try io.runCheckpointed(pages, "unit", "curated", partCols) { part =>
          if (unitSpan >= 0) tr.close(unitSpan)
          unitSpan = tr.open("io.unit")
          CurationPipeline.curate(part).drop("unit", "text")
            .withColumnRenamed("scrubbed_text", "text")
        } finally if (unitSpan >= 0) tr.close(unitSpan)
        require(leftover.isEmpty, s"units left uncommitted: $leftover")
      }
      val scored = spark.read.parquet(s"$out/curated")
      tr.span("pipeline.metrics") {
        CurationPipeline.metrics(scored).coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$out/metrics")
      }
      tr.span("pipeline.kept") { scored.filter(col("keep")).count() }
    } finally commitTimes = poller.stop()
    PassResult(docs, t0, Clock.nowMs, commitTimes)
  }

  def check(root: Path): Seq[(String, Boolean)] = {
    val out = spark.read.parquet(root.resolve("curated").toString)
    val input = spark.read.parquet(timed)
    val perUrl = out.groupBy("url").count()
    val urlsOnce = out.count() == docs && perUrl.filter(col("count") =!= 1).isEmpty &&
      input.select("url").except(out.select("url")).isEmpty
    val manifest = Files.readAllLines(root.resolve("curated_manifest.jsonl")).asScala
      .filter(_.contains("\"unit_commit\""))
    val unitRows = manifest.map(l => """"rows":(\d+)""".r.findFirstMatchIn(l).map(_.group(1).toLong).getOrElse(-1L))
    val unitIds = manifest.flatMap(l => """"unit":"([^"]+)"""".r.findFirstMatchIn(l).map(_.group(1)))
    val manifestOk = unitRows.sum == docs && unitIds.distinct.size == unitIds.size && unitIds.size == Units
    val metricsSum = spark.read.parquet(root.resolve("metrics").toString).agg(sum("docs")).head().getLong(0)

    val sampleIn = input.filter(pmod(xxhash64(col("url"), lit(seed)), lit(docs / 64)) === 0)
      .select("url", "text").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val sampleOut = out.filter(col("url").isin(sampleIn.keys.toSeq: _*))
      .select("url", "keep", "first_reject", "lang_pred", "quality_score", "token_count", "text")
      .collect()
    val annotateOk = sampleIn.nonEmpty && sampleOut.length == sampleIn.size && sampleOut.forall { r =>
      val a = CurationPipeline.annotate(sampleIn(r.getString(0)))
      val lp = r.getStruct(3)
      a.keep == r.getBoolean(1) && a.firstReject == r.getString(2) &&
        a.langPred == lp.getString(0) && java.lang.Double.compare(a.langScore, lp.getDouble(1)) == 0 &&
        java.lang.Double.compare(a.quality, r.getDouble(4)) == 0 && a.tokens == r.getInt(5) &&
        a.scrubbed == r.getString(6)
    }
    Seq("curate.urls_committed_once" -> urlsOnce, "curate.manifest_rows" -> manifestOk,
      "curate.metrics_rows" -> (metricsSum == docs), "curate.sample_equals_annotate" -> annotateOk)
  }

  def sampleDocs(k: Int): Seq[(String, Array[Byte])] = sample(timed, k)
}

/** The cache_path dedup workflow: `ExactDedup.removalIds`, then
  * `FuzzyCheckpoint.removalIds` into a fresh cache dir, on
  * doc_id = xxhash64(url).
  */
final class DedupWorkload(spark: SparkSession, work: Path, seed: Long, docs: Long)
    extends Workload(spark, work, seed) {
  val name = "dedup"
  val docsPerPass: Long = docs
  // the workflow's output is committed once, when both removal lists
  // have landed; the cache stages in between are its own checkpoints
  val commitsPerPass = 1
  private val params = MinHashLSH.Params()
  private var timed: String = _
  private var warmup: String = _

  def prepare(): Unit = {
    val start = seedStart + 1000000L
    val p = Corpus.generate(spark, inputs, s"dedup-seed$seed-n$docs", Seq(
      Corpus.Slice("timed", start, docs), Corpus.Slice("warmup", start + Corpus.SeedStride / 2, docs)))
    timed = p("timed").head
    warmup = p("warmup").head
  }

  def pass(root: Path, warm: Boolean, tr: Tracer): PassResult = {
    val io = new ManifestParquetIO(root.toString)
    val t0 = Clock.nowMs
    val df = Corpus.withIds(spark, if (warm) warmup else timed)
    tr.span("dedup.exact") { io.write(ExactDedup.removalIds(df), "exact_removed") }
    tr.span("dedup.fuzzy") {
      io.write(FuzzyCheckpoint.removalIds(df, params, root.resolve("cache").toString), "fuzzy_removed")
    }
    val t1 = Clock.nowMs
    PassResult(docs, t0, t1, Seq(t1))
  }

  private lazy val inputTexts: Array[(Long, String)] =
    Corpus.withIds(spark, timed).collect().map(r => (r.getLong(0), r.getString(1)))

  private lazy val expectedExact: Set[Long] =
    inputTexts.groupBy { case (_, t) => Workload.md5Hex(t) }.values
      .flatMap(g => g.map(_._1).sorted.drop(1)).toSet

  private def ids(path: Path, c: String): Set[Long] =
    spark.read.parquet(path.toString).select(c).collect().map(_.getLong(0)).toSet

  def check(root: Path): Seq[(String, Boolean)] = {
    val exactOk = ids(root.resolve("exact_removed"), "doc_id") == expectedExact
    val edges = spark.read.parquet(root.resolve("cache").resolve("edges").toString)
      .select(col("src").cast("long"), col("dst").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expectedFuzzy = ConnectedComponents.unionFind(edges).collect { case (v, c) if v != c => v }.toSet
    val fuzzyOk = ids(root.resolve("fuzzy_removed"), "doc_id") == expectedFuzzy
    val (a, b) = MinHashLSH.coefficients(params)
    val texts = inputTexts.toMap
    val sampleIds = inputTexts.map(_._1).filter(id => java.lang.Math.floorMod(id ^ seed, 97L) == 0).toSeq
    val sigs = spark.read.parquet(root.resolve("cache").resolve("minhashes").toString)
      .filter(col("doc_id").isin(sampleIds: _*)).collect()
    val sigOk = sampleIds.nonEmpty && sigs.length == sampleIds.size && sigs.forall { r =>
      r.getSeq[Long](1).toArray.sameElements(MinHashLSH.signature(texts(r.getLong(0)), params, a, b))
    }
    Seq("dedup.exact_equals_md5_grouping" -> exactOk, "dedup.fuzzy_equals_union_find" -> fuzzyOk,
      "dedup.minhashes_equal_signature" -> sigOk)
  }

  /** Splits the fuzzy span into its three cache stages, keyed by the
    * `FuzzyCheckpoint.removalIds` line each job's call site passes
    * through (source order = stage order).
    */
  override def deriveSpans(tr: Tracer, jobs: Seq[JobRec]): Unit = {
    tr.spans.find(_.name == "dedup.fuzzy").foreach { fz =>
      val site = """FuzzyCheckpoint\$\.removalIds\(FuzzyCheckpoint\.scala:(\d+)\)""".r
      val inSpan = jobs.filter(j => j.start >= fz.start && j.start <= fz.end).sortBy(_.start)
      val firstByLine = inSpan.flatMap(j => site.findFirstMatchIn(j.callSite).map(m => m.group(1).toInt -> j.start))
        .groupBy(_._1).view.mapValues(_.map(_._2).min).toSeq.sortBy(_._1)
      val names = Seq("dedup.fuzzy.minhashes", "dedup.fuzzy.edges", "dedup.fuzzy.components")
      val starts = firstByLine.map(_._2).take(names.size)
      starts.indices.foreach { i =>
        val s = if (i == 0) fz.start else starts(i)
        val e = if (i + 1 < starts.size) starts(i + 1) else fz.end
        tr.derived(names(i), fz.id, s, e)
      }
    }
  }

  override def layerCounts(root: Path): Map[String, Double] = {
    val edges = spark.read.parquet(root.resolve("cache").resolve("edges").toString).count()
    val removed = spark.read.parquet(root.resolve("fuzzy_removed").toString).count()
    Map("dedup.lsh.removed_per_edge" -> (if (edges == 0) 0.0 else removed.toDouble / edges))
  }

  def sampleDocs(k: Int): Seq[(String, Array[Byte])] = sample(timed, k)
}

/** A sequence of snapshots, each the next slice of the seeded stream,
  * deduplicated exactly and fuzzily against one growing index root.
  */
final class IncrementalWorkload(spark: SparkSession, work: Path, seed: Long, snapshots: Int, snapDocs: Long)
    extends Workload(spark, work, seed) {
  val name = "incremental"
  val docsPerPass: Long = snapshots * snapDocs
  val commitsPerPass: Int = snapshots
  private var timed: Seq[String] = Nil
  private var warmup: Seq[String] = Nil
  private var removals: Seq[(DataFrame, DataFrame)] = Nil

  def prepare(): Unit = {
    val start = seedStart + 2000000L
    val p = Corpus.generate(spark, inputs, s"incremental-seed$seed-n$docsPerPass", Seq(
      Corpus.Slice("timed", start, docsPerPass, snapDocs),
      Corpus.Slice("warmup", start + Corpus.SeedStride / 2, docsPerPass, snapDocs)))
    timed = p("timed")
    warmup = p("warmup")
  }

  def pass(root: Path, warm: Boolean, tr: Tracer): PassResult = {
    val exactRoot = root.resolve("index").resolve("exact").toString
    val fuzzyRoot = root.resolve("index").resolve("fuzzy").toString
    val commits = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = Clock.nowMs
    removals = (if (warm) warmup else timed).zipWithIndex.map { case (path, k) =>
      val batch = Corpus.withIds(spark, path)
      val r = tr.span("dedup.incremental.snapshot") {
        val ex = tr.span("dedup.incremental.exact") {
          IncrementalDedup.exactSnapshotRemovalIds(batch, exactRoot, s"s$k")
        }
        val fz = tr.span("dedup.incremental.fuzzy") {
          IncrementalDedup.fuzzySnapshotRemovalIds(batch, fuzzyRoot, s"s$k")
        }
        (ex, fz)
      }
      commits += Clock.nowMs
      r
    }
    PassResult(docsPerPass, t0, Clock.nowMs, commits.toList)
  }

  private lazy val batches: Seq[Array[(Long, String)]] =
    timed.map(p => Corpus.withIds(spark, p).collect().map(r => (r.getLong(0), r.getString(1))))

  def check(root: Path): Seq[(String, Boolean)] = {
    var keptMd5 = Vector.empty[String]
    var covers = true
    batches.zip(removals).zipWithIndex.foreach { case ((batch, (ex, fz)), k) =>
      val ids = batch.map(_._1).toSet
      val exRemoved = ex.collect().map(_.getLong(0)).toSet
      val fzRemoved = fz.collect().map(_.getLong(0)).toSet
      val exKept = batch.filterNot(d => exRemoved(d._1))
      keptMd5 ++= exKept.map(d => Workload.md5Hex(d._2))
      val exIndex = spark.read.parquet(root.resolve(s"index/exact/snap_s$k").toString)
        .collect().map(_.getString(0)).toSet
      val fzIndexIds = spark.read.parquet(root.resolve(s"index/fuzzy/snap_s$k").toString)
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      covers &&= exRemoved.subsetOf(ids) && fzRemoved.subsetOf(ids) &&
        exIndex == exKept.map(d => Workload.md5Hex(d._2)).toSet &&
        (fzIndexIds ++ fzRemoved) == ids && fzIndexIds.intersect(fzRemoved).isEmpty
    }
    Seq("incremental.kept_md5_unique" -> (keptMd5.distinct.size == keptMd5.size),
      "incremental.removed_plus_kept_is_batch" -> covers)
  }

  def sampleDocs(k: Int): Seq[(String, Array[Byte])] = sample(timed.head, k)
}
