package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Table IO with commit/lineage/resume semantics.
  *
  * Production target is an Iceberg table (`PARTITIONED BY (days(warc_ts),
  * lang)`, atomic snapshot commits); this sandbox has no Iceberg runtime
  * jar offline, so all table access goes through this trait with two
  * impls: [[ManifestParquetIO]] (partitioned parquet + a JSON-lines
  * manifest giving commit/resume semantics) always available, and an
  * Iceberg impl that is a thin `writeTo(...).append()` swap once the
  * runtime jar is on the cluster classpath.
  *
  * Resume contract (north rule): each unit of work (a partition id) is
  * committed to the manifest AFTER its output lands; a rerun anti-joins
  * the committed set and processes only the remainder — the same
  * guarantee the reference gets from atomic file renames
  * (download/base/download.py:77-111) and batched writer manifests
  * (io/writer/base.py:31-105).
  */
trait TableIO {
  def read(spark: SparkSession, table: String): DataFrame
  def write(df: DataFrame, table: String, partitionCols: Seq[String] = Nil): Unit
}

final class ManifestParquetIO(root: String) extends TableIO with Serializable {

  private def path(table: String) = s"$root/$table"
  private def manifestPath(table: String) = Paths.get(s"$root/${table}_manifest.jsonl")

  def read(spark: SparkSession, table: String): DataFrame =
    spark.read.parquet(path(table))

  def write(df: DataFrame, table: String, partitionCols: Seq[String] = Nil): Unit = {
    // row count rides the write job itself via observe() — no second
    // pass over input or output (an output re-read would double IO cost
    // at scale just to produce a manifest field)
    val obs = org.apache.spark.sql.Observation()
    val w = df.observe(obs, count(lit(1)).as("rows")).write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path(table))
    appendManifest(table, s"""{"event":"commit","table":"$table","rows":${obs.get("rows")}}""")
  }

  /** Append a lineage record (atomic enough for a single driver). */
  def appendManifest(table: String, jsonLine: String): Unit = {
    Files.createDirectories(Paths.get(root))
    Files.writeString(manifestPath(table), jsonLine + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** True once a whole-table [[write]] commit is recorded for `table`
    * (stage-level resume: rerun reads the table instead of recomputing).
    * Matches only the whole-table event — `unit_commit` lines don't count.
    */
  def committedTable(table: String): Boolean = {
    val p = manifestPath(table)
    Files.exists(p) &&
      scala.jdk.CollectionConverters.ListHasAsScala(Files.readAllLines(p)).asScala
        .exists(_.contains(""""event":"commit""""))
  }

  /** Compute-once stage table: the first run writes + commits `table`,
    * every run (including the first) reads the committed table back —
    * stage-level resume for multi-stage workflows (fuzzy/semantic dedup
    * cache_path). A half-written table from a killed run has no commit
    * line and is simply rewritten.
    */
  def stageTable(spark: SparkSession, table: String)(compute: => DataFrame): DataFrame = {
    if (!committedTable(table)) write(compute, table)
    read(spark, table)
  }

  /** Work units already committed for `table` (for resume). */
  def committedUnits(table: String): Set[String] = {
    val p = manifestPath(table)
    if (!Files.exists(p)) return Set.empty
    scala.jdk.CollectionConverters.ListHasAsScala(Files.readAllLines(p)).asScala
      .flatMap { line =>
        val m = """"unit":"([^"]+)"""".r.findFirstMatchIn(line)
        m.map(_.group(1))
      }.toSet
  }

  /** Checkpointed per-unit run: split the input by a unit column (e.g. a
    * bucketed hash of url, or days(warc_ts)), skip committed units and
    * process the rest in ONE job writing `<table>/<unitCol>=<u>/` (plus
    * `partitionCols` leaves, e.g. lang, so reads prune) with dynamic
    * partition overwrite. Each unit still commits on its own: after the
    * job lands, one `unit_commit` line per unit (rows observed on the
    * write job) is appended in sorted order and its claim released. A run
    * killed inside the job commits nothing and its rerun redoes the units
    * it had claimed; the final output equals a single-run output.
    *
    * `process` runs once, on the claimed rows, which carry their unit in
    * the reserved column [[UnitTag]] (it may drop `unitCol`). It must be
    * row-wise and keep columns it does not know; dropping the tag fails.
    *
    * Concurrent drivers (a live drill's zombie JVM double-committed units
    * before claims existed): units are claimed up front via an atomic
    * lock file holding `pid@host`. A DEAD pid's claim on this host is
    * broken (exact SIGKILL resume); a live or unverifiable owner's is
    * skipped and reported, so a second live driver finds every unit the
    * first claimed and leaves them alone.
    *
    * @return units left uncommitted because another live driver holds
    *         them (empty on any single-driver run, including reruns)
    */
  def runCheckpointed(df: DataFrame, unitCol: String, table: String,
                      partitionCols: Seq[String] = Nil)
                     (process: DataFrame => DataFrame): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val unit = col(unitCol).cast("string")
    val pending = df.select(unit).distinct().collect().map(_.getString(0)).filterNot(committedUnits(table)).sorted.toSeq
    val (won, skipped) = pending.partition(tryClaimUnit(fs, table, _))
    val held = scala.collection.mutable.LinkedHashSet(won: _*)
    def release(u: String): Unit = if (held.remove(u)) fs.delete(unitLockPath(table, u), false)
    try {
      // another driver may have committed a unit and released it before
      // our claim; its commit line precedes its unlock, so this sees it
      committedUnits(table).foreach(release)
      val claimed = held.toSeq
      if (claimed.nonEmpty) {
        // a run killed mid-job may have left a claimed unit's directory;
        // dynamic overwrite replaces only the leaves this job writes
        claimed.foreach(u => fs.delete(new org.apache.hadoop.fs.Path(path(table),
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.getPartitionPathString(unitCol, u)), true))
        val part = process(df.filter(unit.isin(claimed: _*)).withColumn(UnitTag, unit))
        require(part.columns.contains(UnitTag), s"runCheckpointed($table): process dropped the reserved " +
          s"column '$UnitTag'; it must keep columns it does not know")
        val obs = org.apache.spark.sql.Observation()
        val rows = claimed.map(u => count_if(col(unitCol) === u).as(s"rows_$u"))
        part.drop(unitCol).withColumnRenamed(UnitTag, unitCol).observe(obs, rows.head, rows.tail: _*)
          .write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
          .partitionBy(unitCol +: partitionCols: _*).parquet(path(table))
        for (u <- claimed) {
          appendManifest(table, s"""{"event":"unit_commit","table":"$table","unit":"$u","rows":${obs.get(s"rows_$u")}}""")
          release(u)
        }
      }
    } finally held.toSeq.foreach(release)
    val leftover = skipped.filterNot(committedUnits(table).contains)
    if (leftover.nonEmpty)
      System.err.println(s"[resume] ${leftover.size} unit(s) of '$table' held by another live driver " +
        s"and still uncommitted: ${leftover.take(10).mkString(",")}${if (leftover.size > 10) ",…" else ""} — " +
        "rerun after it finishes (or clear stale locks under " + s"${path(table)}/_unit_locks)")
    leftover
  }

  /** Column carrying each row's unit through `runCheckpointed`'s `process`. */
  val UnitTag = "__graft_unit"

  // underscore-prefixed so Spark/Hadoop input listing ignores the dir
  private def unitLockPath(table: String, u: String) =
    new org.apache.hadoop.fs.Path(s"${path(table)}/_unit_locks/$u.lock")

  /** Atomically claim a unit. Breaks the lock only when its owner is a
    * provably dead pid on this host (the SIGKILL-resume case).
    */
  private def tryClaimUnit(fs: org.apache.hadoop.fs.FileSystem, table: String, u: String): Boolean = {
    val p = unitLockPath(table, u)
    // local FS: fs.create(overwrite=false) is check-then-create (TOCTOU —
    // two drivers both claimed unit 0 in the regression test); O_EXCL via
    // nio CREATE_NEW is the atomic primitive. HDFS: create(false) IS
    // atomic server-side. S3 & friends: advisory only (documented above).
    def create(): Boolean =
      if (fs.getScheme == "file")
        try {
          val local = java.nio.file.Paths.get(p.toUri.getPath)
          java.nio.file.Files.createDirectories(local.getParent)
          java.nio.file.Files.write(local, lockOwner.getBytes(java.nio.charset.StandardCharsets.UTF_8),
            StandardOpenOption.CREATE_NEW)
          true
        } catch { case _: java.io.IOException => false }
      else
        try { val out = fs.create(p, false); out.writeBytes(lockOwner); out.close(); true }
        catch { case _: java.io.IOException => false }
    create() || {
      val owner = try {
        val in = fs.open(p)
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      } catch { case _: java.io.IOException => return false } // vanished/racing — let the other driver have it
      owner.split("@", 2) match {
        case Array(pid, host) if host == lockHost && pid.matches("\\d+") &&
            !ProcessHandle.of(pid.toLong).map[Boolean](_.isAlive).orElse(false) =>
          fs.delete(p, false); create()
        case _ =>
          // live, foreign-host, or unparseable owner. Pid-liveness can't
          // be checked across hosts, so a driver that crashed on ANOTHER
          // node would otherwise block resume forever; the opt-in lease
          // (-Dgraft.resume.lockLeaseMs=N) breaks locks older than N ms —
          // set it above any plausible run's processing time
          val lease = sys.props.get("graft.resume.lockLeaseMs").map(_.toLong)
          val expired = lease.exists { ms =>
            try System.currentTimeMillis() - fs.getFileStatus(p).getModificationTime > ms
            catch { case _: java.io.IOException => false } // vanished — retry below
          }
          if (expired) { fs.delete(p, false); create() } else false
      }
    }
  }

  private def lockOwner = s"${ProcessHandle.current().pid()}@$lockHost"
  private lazy val lockHost =
    try java.net.InetAddress.getLocalHost.getHostName catch { case _: Exception => "unknown-host" }
}

/** `utils/split_large_files.py`'s job — rewrite parquet into
  * ~target-size files — done Spark-first: instead of the reference's
  * driver-side row-group halving recursion, size a `maxRecordsPerFile`
  * from the source's measured bytes/row and let the distributed writer
  * split (row-group surgery is the Ray tool's workaround for not
  * having one).
  */
object SplitBySize {
  def rewrite(spark: org.apache.spark.sql.SparkSession, inputPath: String,
              outDir: String, targetSizeMb: Int): Unit = {
    require(targetSizeMb > 0, s"targetSizeMb must be > 0, got $targetSizeMb")
    // Overwrite deletes outDir BEFORE the lazy scan of inputPath runs —
    // an in-place rewrite would destroy the source with nothing written
    val in = java.nio.file.Paths.get(inputPath).toAbsolutePath.normalize
    val out = java.nio.file.Paths.get(outDir).toAbsolutePath.normalize
    require(!out.startsWith(in) && !in.startsWith(out),
      s"outDir $out must not be inside (or equal to) inputPath $in — " +
        "the overwrite would delete the source before it is read")
    val df = spark.read.parquet(inputPath)
    val rows = df.count()
    val bytes = {
      val p = new org.apache.hadoop.fs.Path(inputPath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.getContentSummary(p).getLength
    }
    val bytesPerRow = math.max(1L, if (rows == 0) 1L else bytes / math.max(1L, rows))
    val rowsPerFile = math.max(1L, targetSizeMb.toLong * 1024 * 1024 / bytesPerRow)
    df.write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", rowsPerFile)
      .parquet(outDir)
  }
}

/** Catalog-table impl of [[TableIO]] over Spark's DataFrameWriterV2 —
  * the Iceberg-native path (SURVEY.md §7.4 hard part 6). Compiles against
  * the Spark API alone; at deploy time the cluster adds the Iceberg
  * runtime jar + a catalog config and these calls become Iceberg atomic
  * snapshot commits (`PARTITIONED BY (days(warc_ts), lang)` DDL is run
  * once at table creation). No Iceberg classes are referenced directly,
  * so the manifest-parquet impl remains the offline test double.
  */
final class CatalogTableIO(catalog: String) extends TableIO with Serializable {
  private def fqn(table: String) = s"$catalog.$table"

  def read(spark: SparkSession, table: String): DataFrame =
    spark.table(fqn(table))

  def write(df: DataFrame, table: String, partitionCols: Seq[String] = Nil): Unit = {
    def writer = {
      val w = df.writeTo(fqn(table))
      if (partitionCols.nonEmpty)
        w.partitionedBy(col(partitionCols.head), partitionCols.tail.map(col): _*)
      else w
    }
    try writer.createOrReplace()
    catch {
      // catalogs without atomic RTAS (the built-in session catalog,
      // plain HMS+parquet deploys) still get replace semantics via
      // drop+create; Iceberg keeps the single-snapshot commit path
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getCondition).exists(_.startsWith("UNSUPPORTED_FEATURE")) =>
        df.sparkSession.sql(s"DROP TABLE IF EXISTS ${fqn(table)}")
        writer.create()
    }
  }

  /** Append into an existing partitioned table (snapshot commit). */
  def append(df: DataFrame, table: String): Unit =
    try df.writeTo(fqn(table)).append()
    catch {
      // v1 session-catalog tables reject the v2 append — route through
      // the v1 writer (same rows, no snapshot semantics)
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getCondition).exists(_.startsWith("UNSUPPORTED_FEATURE")) ||
            e.getMessage.contains("v1 table") =>
        df.write.mode(SaveMode.Append).saveAsTable(fqn(table))
    }

  /** Overwrite only the rows matching `condition` with `df`'s rows —
    * on Iceberg a single overwrite-by-filter snapshot commit (the
    * incremental-recompute path: replace one day/lang slice, keep the
    * rest). v1 session-catalog tables lack the v2 overwrite, so the
    * fallback rewrites remainder ∪ df through the v1 writer — same
    * rows, not atomic (lineage broken via localCheckpoint so the
    * table can be replaced under its own read).
    */
  def overwriteWhere(df: DataFrame, table: String,
                     condition: org.apache.spark.sql.Column): Unit =
    try df.writeTo(fqn(table)).overwrite(condition)
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getCondition).exists(_.startsWith("UNSUPPORTED_FEATURE")) ||
            e.getMessage.contains("v1 table") =>
        val spark = df.sparkSession
        val existing = spark.table(fqn(table))
        // keep every row the filter does NOT match — including rows where
        // the condition evaluates to NULL (plain `!condition` is NULL for
        // those and would silently drop them; Iceberg's overwrite(cond)
        // deletes only rows where cond is TRUE)
        val merged = existing.filter(!coalesce(condition, lit(false)))
          .unionByName(df.select(existing.columns.map(col): _*))
          .localCheckpoint(true)
        merged.write.mode(SaveMode.Overwrite).saveAsTable(fqn(table))
    }

  /** Add columns to an existing table (Iceberg/v2 schema evolution;
    * the session catalog supports the same DDL for parquet tables).
    * Existing rows read the new columns as null.
    */
  def addColumns(spark: SparkSession, table: String, columnsDdl: String): Unit =
    spark.sql(s"ALTER TABLE ${fqn(table)} ADD COLUMNS ($columnsDdl)")
}
