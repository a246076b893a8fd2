package graft

import org.scalatest.funsuite.AnyFunSuite

/** Output formatting and argument handling of the bench mains. */
class BenchToolsSpec extends AnyFunSuite {

  test("bench summary line prints the fixed key list and fits the 2000-char stdout tail") {
    assert(Bench.SummaryKeys.distinct.size == Bench.SummaryKeys.size)
    assert(Bench.SummaryKeys.size == 50)
    // every catalog key is a live SparkEntry query
    val catalog = Bench.SummaryKeys.filterNot(k => k.endsWith("_sec") || k.endsWith("_per_s"))
    assert(catalog.filterNot(SparkEntry.queries.contains).isEmpty)

    // whatever the timings, the same keys in the same order; absent keys read -1
    val results = scala.collection.mutable.LinkedHashMap[String, Double]("q1_agg" -> 0.001, "zz_fast" -> 0.002)
    results ++= Bench.SummaryKeys.filter(_.endsWith("_per_s")).map(_ -> 1234567.891)
    val line = Bench.summaryLine(123456.789, "/data/graft/testdata/sf0.1", results)
    val keys = """"([a-z0-9_]+)":""".r.findAllMatchIn(line.substring(line.indexOf("\"queries\":{") + 11))
      .map(_.group(1)).toSeq
    assert(keys == Bench.SummaryKeys :+ "queries_omitted_fast" :+ "sf")
    assert(line.contains("\"q1_agg\":0.001,"))
    assert(line.contains("\"curate_full_sec\":-1.000,"))
    assert(line.contains("\"queries_omitted_fast\":1.000}"))
    assert(!line.contains("zz_fast"))

    val worst = Bench.summaryLine(123456.789, "/data/graft/testdata/sf0.1",
      Bench.SummaryKeys.map(_ -> 1234567.891).toMap ++ (1 to 60).map(i => s"extra_$i" -> 1.0))
    assert(worst.length < 2000, s"${worst.length} chars")
  }

  test("BenchExtra: empty corpus has mean length 0; unknown subcommand prints usage") {
    assert(BenchExtra.avgLength(Seq.empty) == 0L)
    assert(BenchExtra.avgLength(Seq("ab", "abcd")) == 3L)
    assert(BenchExtra.avgLength(Array.fill(3)("x" * 1000000).toSeq) == 1000000L)
    val err = new java.io.ByteArrayOutputStream()
    Console.withErr(new java.io.PrintStream(err)) {
      BenchExtra.main(Array("no-such-subcommand"))
      BenchExtra.main(Array.empty)
    }
    assert(err.toString.split("\n").count(_.startsWith("usage: BenchExtra")) == 2)
  }
}
