package graft

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** [[ToolMain]] — the promtool-analog CLI, driven in-process via
  * `run` (exit code + captured report lines). */
class ToolMainSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def run(args: String*): (Int, Seq[String]) = {
    val lines = Seq.newBuilder[String]
    val code = ToolMain.run(spark, args.toArray, lines += _)
    (code, lines.result())
  }

  test("check-rules: valid file, expr lint, parse failure, exit codes") {
    val good = Files.createTempFile("rules", ".yml")
    Files.writeString(good,
      """groups:
        |  - name: g
        |    rules:
        |      - record: a:sum
        |        expr: sum(a)
        |      - alert: High
        |        expr: sum(a) > 5
        |        for: 2m
        |""".stripMargin)
    val (c1, o1) = run("check-rules", good.toString)
    assert(c1 == 0 && o1.head.startsWith("SUCCESS") &&
      o1.head.contains("1 groups, 2 rules"), o1)

    // structurally-valid YAML whose EXPR is garbage must fail the lint
    val badExpr = Files.createTempFile("rules", ".yml")
    Files.writeString(badExpr,
      "groups:\n  - name: g\n    rules:\n      - record: r\n        expr: sum((\n")
    val (c2, o2) = run("check-rules", badExpr.toString)
    assert(c2 == 1 && o2.head.startsWith("FAILED") &&
      o2.head.contains("bad expr"), o2)

    // several files: worst exit code wins, every file reported
    val (c3, o3) = run("check-rules", good.toString, badExpr.toString)
    assert(c3 == 1 && o3.size == 2)
  }

  test("promql-test: upstream-notation script passes, failures reported") {
    val good = Files.createTempFile("pq", ".test")
    Files.writeString(good,
      """load 1m
        |  m{k="a"} 0+2x10
        |
        |eval instant at 5m sum(m)
        |  {} 10
        |""".stripMargin)
    val (c0, out0) = run("promql-test", good.toString)
    assert(c0 == 0 && out0.exists(_.contains("1 evals")))
    val bad = Files.createTempFile("pq", ".test")
    Files.writeString(bad,
      """load 1m
        |  m{k="a"} 0+2x10
        |
        |eval instant at 5m sum(m)
        |  {} 11
        |""".stripMargin)
    val (c1, out1) = run("promql-test", bad.toString)
    assert(c1 == 1 && out1.exists(_.startsWith("FAILED")))
  }

  test("check-config and usage") {
    val cfg = Files.createTempFile("agni", ".yml")
    Files.writeString(cfg, "bucket: b1\nendpoint: http://s\n")
    assert(run("check-config", cfg.toString)._1 == 0)
    val bad = Files.createTempFile("agni", ".yml")
    Files.writeString(bad, "bukket: b1\n")
    assert(run("check-config", bad.toString)._1 == 1)
    val (cu, ou) = run("bogus")
    assert(cu == 2 && ou.head.startsWith("usage:"))
  }

  test("plan: an unknown query fails loudly") {
    val (c, o) = run("plan", "no_such_query")
    assert(c == 1 && o.size == 1 && o.head.startsWith("[plandump] no_such_query FAILED"), o)
  }

  test("backfill: openmetrics dump -> store; analyze and query read it back") {
    val dump = Files.createTempFile("om", ".txt")
    // OpenMetrics: seconds timestamps, # EOF terminator
    Files.writeString(dump,
      """# TYPE http_requests counter
        |http_requests{job="api"} 5 1700000000
        |http_requests{job="api"} 9 1700000060
        |http_requests{job="web"} 2 1700000000
        |this line is garbage and must drop
        |http_requests_untimed{job="x"} 1
        |# EOF
        |""".stripMargin)
    val store = Files.createTempDirectory("backfill").resolve("store").toString
    val (c, o) = run("backfill", dump.toString, store)
    // the untimed sample has no timestamp -> excluded from backfill
    assert(c == 0 && o.head.startsWith("SUCCESS: 3 samples"), o)

    val q = graft.tsdb.TsStore.read(spark, store)
    assert(q.selectLong(0, Long.MaxValue / 2, Seq(
      graft.tsdb.LabelMatcher.eq("job", "api"))).count() == 2)

    val (ca, oa) = run("tsdb-analyze", store, "5")
    assert(ca == 0, oa)
    assert(oa.contains("Series: 2"))
    assert(oa.contains("Time range: 1700000000000 .. 1700000060000"))
    assert(oa.exists(_.contains("http_requests")), oa)

    val (cq, oq) = run("query", store, "sum(http_requests)",
      "1700000000", "1700000060", "60")
    assert(cq == 0, oq)
    assert(oq == Seq("{} 7.0 @ 1700000000", "{} 11.0 @ 1700000060"), oq)

    // a parse error surfaces as FAILED + exit 1
    val (ce, oe) = run("query", store, "sum((", "0", "1", "1")
    assert(ce == 1 && oe.head.startsWith("FAILED"))
  }

  test("backfill with nothing parseable fails loudly") {
    val dump = Files.createTempFile("om", ".txt")
    Files.writeString(dump, "junk\n# EOF\n")
    val store = Files.createTempDirectory("backfill2").resolve("s").toString
    val (c, o) = run("backfill", dump.toString, store)
    assert(c == 1 && o.head.startsWith("FAILED"), o)
  }
}
