package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract smoke: entry yields rows; queries/oracles stay in
  * sync; a representative query from each family runs at sf0.001; the
  * bench row set and one filtered bench leg hold their shape. */
class QueriesSmokeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  /** registerAll is the spark.sql user's front door: every table must
    * come up as a view, and the events view must route through the
    * vintage-adaptive loader (ts lands as TIMESTAMP, never raw long
    * nanos or NTZ) — the guarantee its scaladoc states, pinned here so
    * a future vintage change can't silently desync the SQL-view path
    * from the DataFrame path. */
  test("registerAll registers every table with the events ts shim applied") {
    graft.Tables.registerAll(spark, dir)
    graft.Tables.names.foreach { n =>
      assert(spark.catalog.tableExists(n), s"view $n missing")
    }
    val tsType = spark.table("events").schema("ts").dataType
    assert(tsType === org.apache.spark.sql.types.TimestampType,
      s"events.ts through registerAll must be TIMESTAMP, got $tsType")
    assert(spark.sql("SELECT COUNT(*) FROM events").head.getLong(0) > 0)
  }

  /** Approximate operators with no SQL-expressible oracle (driver
    * falls back to a rows-only check). */
  private val rowsOnly = Set("sim_ann_lsh", "sim_ann_ivf")

  test("every query has oracle SQL (or is explicitly rows-only)") {
    val missing =
      SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- rowsOnly
    assert(missing.isEmpty, s"queries without oracle: $missing")
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracles without query: $dangling")
  }

  /** The bench row set is the catalogue plus Bench's bench-only rows,
    * and Bench's per-row rules only point backwards in the sweep. */
  test("bench rows are the 116 catalogue queries plus 7 bench-only rows") {
    val names = Bench.rows.map(_.name)
    assert(names.size == 123 && names.distinct.size == 123, names)
    val benchOnly = Set("t_lm_perplexity_pruned", "t_quality_classifier_pruned",
      "layout_bucketed_join_warm", "sim_ivfpq_baseline",
      "sim_ivfpq_refine_wide", "sim_pq_adc_baseline",
      "graph_pagerank_converged")
    assert(SparkEntry.queries.size == 116)
    assert(names.toSet == SparkEntry.queries.keySet ++ benchOnly)
    Bench.rows.foreach { q =>
      q.memoFrom.foreach { p =>
        assert(names.contains(p) && p < q.name,
          s"${q.name}: memo provider $p does not sort before it")
      }
    }
    val oracled = Bench.rows.filter(q => benchOnly(q.name) && q.oracle.nonEmpty)
    assert(oracled.isEmpty, s"bench-only rows with an oracle: ${oracled.map(_.name)}")
  }

  /** One filtered bench leg end to end: the rows the filter selects
    * are exactly the rows the summary line and the full record report,
    * and the catalogue's eagerBuild rule reaches the repeat count. */
  test("runLeg reports exactly the filtered rows, error-free, eager rows once") {
    val picked = Set("dedup_clusters", "pipeline_keep", "sim_pq_adc_topk")
    val out = java.nio.file.Files.createTempDirectory("bench-leg")
    val fullPath = out.resolve("bench_full.json").toString
    val buf = new java.io.ByteArrayOutputStream()
    try {
      Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
        Bench.runLeg(spark, picked, repeats = 2, dir, fullPath, filtered = true)
      }
      val mapper = new ObjectMapper()
      val printed = buf.toString("UTF-8").linesIterator.filter(_.nonEmpty).toSeq
      val summary = mapper.readTree(printed.last)
      val full = mapper.readTree(new java.io.File(fullPath))
      def names(n: JsonNode): Set[String] = n.fieldNames().asScala.toSet

      assert(names(full.get("queries")) == picked)
      assert(names(full.get("reps")) == picked)
      assert(summary.get("n").asInt == picked.size)
      assert(summary.get("errors").isEmpty && full.get("errors").isEmpty,
        s"errors: ${full.get("errors")}")
      val eager = Bench.rows.filter(q => picked(q.name) && q.eagerBuild)
      assert(eager.map(_.name).toSet == picked)
      eager.foreach { q =>
        assert(full.get("reps").get(q.name).asInt == 1,
          s"${q.name} ran ${full.get("reps").get(q.name)} repeats")
      }
    } finally {
      out.toFile.listFiles().foreach(_.delete())
      out.toFile.delete()
    }
  }

  /** Full-inventory schema gate: ANALYZE every registered query against
    * the live testdata (no execution — cheap). A loader/schema drift
    * like the r7 TIMESTAMP(NANOS)→timestamp[us] regression turns this
    * red immediately instead of silently darkening oracle entries. */
  test("all registered queries analyze against live testdata") {
    val errs = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          fn(spark, dir).queryExecution.analyzed
          None
        } catch {
          case e: Throwable =>
            Some(s"$name: ${Option(e.getMessage).getOrElse(e.toString).linesIterator.take(2).mkString(" ")}")
        }
    }
    assert(errs.isEmpty,
      s"${errs.size} queries fail analysis:\n${errs.mkString("\n")}")
  }

  test("one query per family runs and yields rows at sf0.001") {
    val picks = Seq("q1_pricing_summary", "e5_tumbling_hourly",
      "t_token_stats", "dedup_simhash", "sim_cosine_topk")
    picks.foreach { name =>
      val n = SparkEntry.queries(name)(spark, dir).count()
      assert(n > 0, s"$name returned no rows")
    }
  }
}
