package graft.io

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.pipeline.CurationPipeline
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** `runCheckpointed` runs every pending unit in one job and still commits
  * each unit on its own. The differential half pins it against the
  * per-unit loop it replaced (one scan and one Overwrite job per unit),
  * kept here in test code only; the failure half pins what a crash inside
  * the job, a `process` that drops the unit tag, and a unit directory left
  * behind by a killed run do.
  */
class OneJobCheckpointSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** The replaced loop. Claims are plain O_EXCL lock files and a held lock
    * is skipped; the dead-pid and lease breaks are not exercised here.
    */
  private def perUnitLoop(root: String, df: DataFrame, table: String, partitionCols: Seq[String])
                         (process: DataFrame => DataFrame): Seq[String] = {
    val io = new ManifestParquetIO(root)
    val units = df.select("unit").distinct().collect().map(_.get(0).toString).sorted
    val skipped = scala.collection.mutable.ListBuffer.empty[String]
    for (u <- units if !io.committedUnits(table).contains(u)) {
      val lock = Paths.get(s"$root/$table/_unit_locks/$u.lock")
      Files.createDirectories(lock.getParent)
      val claimed =
        try { Files.writeString(lock, "held", StandardOpenOption.CREATE_NEW); true }
        catch { case _: java.io.IOException => false }
      if (!claimed) skipped += u
      else try {
        val obs = org.apache.spark.sql.Observation()
        val w = process(df.filter(col("unit") === u)).observe(obs, count(lit(1)).as("rows"))
          .write.mode(SaveMode.Overwrite)
        (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(s"$root/$table/unit=$u")
        io.appendManifest(table, s"""{"event":"unit_commit","table":"$table","unit":"$u","rows":${obs.get("rows")}}""")
      } finally Files.delete(lock)
    }
    skipped.toList
  }

  /** CurateApp's process: it drops `unit` and knows nothing of the tag. */
  private def curateProcess(part: DataFrame): DataFrame =
    CurationPipeline.curate(part).drop("unit", "text").withColumnRenamed("scrubbed_text", "text")

  private lazy val pagesPath: String = {
    val p = Files.createTempDirectory("onejob_pages").resolve("in").toString
    graft.fixtures.CCPages.generate(spark, 240, partitions = 4).write.parquet(p)
    p
  }
  private def pages: DataFrame = spark.read.parquet(pagesPath)
    .withColumn("unit", pmod(xxhash64(col("url")), lit(6)).cast("string"))

  private def rowsByUrl(root: String): (Seq[String], Map[String, Row]) = {
    val out = spark.read.parquet(s"$root/curated")
    (out.columns.toSeq, out.collect().map(r => r.getAs[String]("url") -> r).toMap)
  }

  /** Directories holding parquet files, relative to the table root. */
  private def leaves(root: String): Set[String] = {
    val base = Paths.get(s"$root/curated")
    Files.walk(base).iterator.asScala.filter(_.toString.endsWith(".parquet"))
      .map(p => base.relativize(p.getParent).toString).toSet
  }

  private def unitCommits(root: String, table: String): Seq[(String, Long)] =
    Files.readAllLines(Paths.get(s"$root/${table}_manifest.jsonl")).asScala.toSeq
      .filter(_.contains("\"unit_commit\"")).map { l =>
        """"unit":"([^"]+)"""".r.findFirstMatchIn(l).get.group(1) ->
          """"rows":(\d+)""".r.findFirstMatchIn(l).get.group(1).toLong
      }

  private def assertSameTables(oldRoot: String, newRoot: String): Unit = {
    val (oldCols, oldRows) = rowsByUrl(oldRoot)
    val (newCols, newRows) = rowsByUrl(newRoot)
    assert(newCols == oldCols)
    assert(newRows.keySet == oldRows.keySet)
    val differing = oldRows.keys.filter(k => oldRows(k) != newRows(k))
    assert(differing.isEmpty, s"rows differ for ${differing.take(3)}")
    assert(leaves(newRoot) == leaves(oldRoot))
    assert(leaves(newRoot).exists(_.matches("unit=\\d+/lang=[^/]+")))
    val commits = unitCommits(newRoot, "curated")
    assert(commits.map(_._1).distinct.size == commits.size, s"double-committed: $commits")
    assert(commits.toMap == unitCommits(oldRoot, "curated").toMap)
  }

  private def twoRoots(): (String, String) =
    (Files.createTempDirectory("onejob_old").toString, Files.createTempDirectory("onejob_new").toString)

  test("differential: fresh root, one job equals the per-unit loop") {
    val (oldRoot, newRoot) = twoRoots()
    assert(perUnitLoop(oldRoot, pages, "curated", Seq("lang"))(curateProcess).isEmpty)
    assert(new ManifestParquetIO(newRoot).runCheckpointed(pages, "unit", "curated", Seq("lang"))(curateProcess).isEmpty)
    assertSameTables(oldRoot, newRoot)
    assert(unitCommits(newRoot, "curated").map(_._2).sum == 240)
  }

  test("differential: root with a pre-committed subset resumes the remainder") {
    val (oldRoot, newRoot) = twoRoots()
    val first = pages.filter(col("unit").isin("0", "3"))
    perUnitLoop(oldRoot, first, "curated", Seq("lang"))(curateProcess)
    val io = new ManifestParquetIO(newRoot)
    io.runCheckpointed(first, "unit", "curated", Seq("lang"))(curateProcess)
    assert(io.committedUnits("curated") == Set("0", "3"))
    assert(perUnitLoop(oldRoot, pages, "curated", Seq("lang"))(curateProcess).isEmpty)
    assert(io.runCheckpointed(pages, "unit", "curated", Seq("lang"))(curateProcess).isEmpty)
    assertSameTables(oldRoot, newRoot)
    assert(unitCommits(newRoot, "curated").map(_._1) == Seq("0", "3", "1", "2", "4", "5"))
  }

  test("differential: a unit held by a foreign-host lock is skipped and reported by both") {
    val (oldRoot, newRoot) = twoRoots()
    for (root <- Seq(oldRoot, newRoot)) {
      Files.createDirectories(Paths.get(s"$root/curated/_unit_locks"))
      Files.writeString(Paths.get(s"$root/curated/_unit_locks/4.lock"), "777@some-other-host")
    }
    assert(perUnitLoop(oldRoot, pages, "curated", Seq("lang"))(curateProcess) == Seq("4"))
    assert(new ManifestParquetIO(newRoot).runCheckpointed(pages, "unit", "curated", Seq("lang"))(curateProcess)
      == Seq("4"))
    assertSameTables(oldRoot, newRoot)
    assert(!unitCommits(newRoot, "curated").exists(_._1 == "4"))
    assert(Files.exists(Paths.get(s"$newRoot/curated/_unit_locks/4.lock")), "a foreign lock is not ours to delete")
  }

  private def ids: DataFrame = spark.range(0, 100)
    .withColumn("unit", (col("id") % 4).cast("string")).withColumn("lang", lit("en"))

  private def lockFiles(root: String): Seq[Path] = {
    val dir = Paths.get(s"$root/out/_unit_locks")
    if (Files.exists(dir)) Files.list(dir).iterator.asScala.toSeq else Nil
  }

  test("a process that throws inside the job commits nothing; a healthy rerun commits every unit once") {
    val root = Files.createTempDirectory("onejob_boom").toString
    val io = new ManifestParquetIO(root)
    io.runCheckpointed(ids.filter(col("unit") === "0"), "unit", "out", Seq("lang"))(_.drop("unit"))
    val boom = udf { (id: Long) => if (id == 57) throw new IllegalStateException("boom"); id }
    intercept[Exception] {
      io.runCheckpointed(ids, "unit", "out", Seq("lang"))(_.drop("unit").withColumn("id", boom(col("id"))))
    }
    assert(io.committedUnits("out") == Set("0"))
    assert(lockFiles(root).isEmpty, s"locks left behind: ${lockFiles(root)}")
    assert(spark.read.parquet(s"$root/out").count() == 25)

    assert(io.runCheckpointed(ids, "unit", "out", Seq("lang"))(_.drop("unit")).isEmpty)
    val commits = unitCommits(root, "out")
    assert(commits.map(_._1).sorted == Seq("0", "1", "2", "3"))
    assert(commits.forall(_._2 == 25))
    val out = spark.read.parquet(s"$root/out")
    assert(out.count() == 100 && out.select("id").distinct().count() == 100)
  }

  test("a process that drops the reserved unit column fails fast, naming it, and releases its claims") {
    val root = Files.createTempDirectory("onejob_droptag").toString
    val io = new ManifestParquetIO(root)
    val ex = intercept[IllegalArgumentException] {
      io.runCheckpointed(ids, "unit", "out", Seq("lang"))(_.drop(io.UnitTag))
    }
    assert(ex.getMessage.contains(io.UnitTag))
    assert(lockFiles(root).isEmpty, s"locks left behind: ${lockFiles(root)}")
    assert(io.committedUnits("out").isEmpty)
  }

  test("a claimed unit's directory left by a killed run is cleared before the job") {
    val root = Files.createTempDirectory("onejob_stale").toString
    val io = new ManifestParquetIO(root)
    io.runCheckpointed(ids, "unit", "out", Seq("lang"))(_.drop("unit"))
    // the killed run wrote unit 2 (and a leaf this run will not write)
    // but died before committing it
    val manifest = Paths.get(s"$root/out_manifest.jsonl")
    Files.write(manifest, Files.readAllLines(manifest).asScala.filterNot(_.contains("\"unit\":\"2\"")).asJava)
    val en = Paths.get(s"$root/out/unit=2/lang=en")
    val stale = Paths.get(s"$root/out/unit=2/lang=zz")
    Files.createDirectories(stale)
    Files.list(en).iterator.asScala.filter(_.toString.endsWith(".parquet"))
      .foreach(f => Files.copy(f, stale.resolve(f.getFileName)))

    assert(io.runCheckpointed(ids, "unit", "out", Seq("lang"))(_.drop("unit")).isEmpty)
    assert(!Files.exists(stale))
    val out = spark.read.parquet(s"$root/out")
    assert(out.count() == 100)
    assert(out.filter(col("unit") === 2).count() == 25)
    assert(unitCommits(root, "out").map(_._1).sorted == Seq("0", "1", "2", "3"))
  }
}
