package graft

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** The measurement harness's contracts: which queries a name filter selects,
  * that materialization isolates queries from each other's cached frames,
  * and the exact shape of `Bench`'s stdout line and `target/bench_full.json`.
  */
class MeasureSpec extends SparkSpec {
  private val mapper = new ObjectMapper()
  private def names(qs: Seq[(String, Measure.Query)]) = qs.map(_._1)

  test("select: trimmed substrings, empty entries dropped, SparkEntry order kept") {
    assert(names(Measure.select(Some(" q20 , q01_,"))) ==
      Seq("q01_pricing_summary", "q20_dedup_exact"))
    assert(names(Measure.select(None)) == SparkEntry.queries.keys.toSeq)
    val one: Measure.Query = (s, _) => s.range(1).toDF()
    assert(names(Measure.select(Some("one,two"), Seq("b_two" -> one, "a_one" -> one))) ==
      Seq("b_two", "a_one"))
  }

  test("select: a filter that matches nothing throws and names the filter") {
    Seq("/dev/null", "no_such_query", " , ").foreach { f =>
      val e = intercept[IllegalArgumentException](Measure.select(Some(f)))
      assert(e.getMessage.contains(s"'$f'"), e.getMessage)
    }
  }

  test("materialize: an error comes back as a message and no cached frame is left behind") {
    spark.catalog.clearCache()
    val good: Measure.Query = (s, _) => { val c = s.range(10).toDF("id").cache(); c.count(); c }
    assert(Measure.materialize(spark, "unused", good).isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty, "a successful query's cached frame survived")

    val boom: Measure.Query = (s, _) => {
      s.range(10).toDF("id").cache().count()
      throw new IllegalStateException("deliberate \"failure\" " + "x" * 200)
    }
    val err = Measure.materialize(spark, "unused", boom)
    assert(err.exists(_.startsWith("IllegalStateException: deliberate \"failure\" ")), err)
    assert(err.get.length == "IllegalStateException: ".length + 160, err)
    assert(spark.sharedState.cacheManager.isEmpty, "a failed query's cached frame survived")
  }

  test("jsonString escapes quote, backslash and every control character") {
    val s = "a\"b\\c\nd\re\tf\u0001g"
    assert(mapper.readTree(Measure.jsonString(s)).asText() == s)
    assert(Measure.jsonString("\u0001") == "\"\\u0001\"")
  }

  test("Bench report: exact key lists, top-20 line, full detail, escaped errors") {
    val ok = (0 until 24).map(i => f"z$i%02d_query" -> Bench.Timing(1.0 + i, 2.0, 1.5 + i))
    val failed = "q01_pricing_summary"
    val msg = "IllegalStateException: a \"quoted\" back\\slash\nand a newline"
    val results = ok :+ (failed -> Bench.Timing(1e9, 0.5, 1e9))
    val quiet = Bench.Conditions(0.1, 0.2, 0.3, 0.05, 0.04, 0.5, 2)
    val (line, full) = Bench.report(results, Seq(failed -> msg), quiet, "/data/sf0.1")

    val subsets = Seq("r1", "r2", "r3", "r4", "r5", "r6", "r8", "r9").map(r => s"${r}_subset_sec")
    val load = Seq("load1_initial", "load1_start", "load1_end", "rerun_gain", "last_gain",
      "passes", "full_rerun", "contaminated", "contamination_rule", "contaminated_r8_rule")
    val l = mapper.readTree(line)
    assert(l.fieldNames.asScala.toSeq == Seq("metric", "value", "unit", "n_queries") ++
      subsets ++ load ++ Seq("queries", "queries_shown", "queries_full", "errors", "sf"))
    val f = mapper.readTree(full)
    assert(f.fieldNames.asScala.toSeq == Seq("metric", "value", "unit") ++ subsets ++ load ++
      Seq("queries", "errors", "sf"))

    assert(l.get("n_queries").asInt == 25)
    assert(l.get("value").asDouble == f.get("value").asDouble)
    assert(l.get("value").asDouble == 1e9 + ok.map(_._2.sec).sum)
    assert(l.get("r1_subset_sec").asDouble == 1e9) // only q01 is a round-1 query
    // the 20 slowest successful queries, by name prefix; the failure is not among them
    assert(l.get("queries_shown").asInt == 20)
    assert(l.get("queries").fieldNames.asScala.toSeq == (23 to 4 by -1).map(i => f"z$i%02d"))
    assert(l.get("queries").get("z23").asDouble == 24.0)
    assert(l.get("queries_full").asText == "target/bench_full.json")
    assert(f.get("queries").size == 25)
    val q = f.get("queries").get("z03_query")
    assert(q.fieldNames.asScala.toSeq == Seq("sec", "cpu_sec", "first_sec"))
    assert(q.get("sec").asDouble == 4.0 && q.get("first_sec").asDouble == 4.5)
    Seq(l, f).foreach { j =>
      assert(j.get("errors").get(failed).asText == msg)
      assert(j.get("sf").asText == "/data/sf0.1")
      assert(!j.get("contaminated").asBoolean && j.get("passes").asInt == 2)
    }
    val loaded = mapper.readTree(Bench.report(results, Nil, quiet.copy(load1Start = 2.5), "d")._1)
    assert(loaded.get("contaminated").asBoolean && loaded.get("contaminated_r8_rule").asBoolean)
  }
}
