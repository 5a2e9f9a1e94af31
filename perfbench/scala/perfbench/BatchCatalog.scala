package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** batch_catalog: `SparkEntry.queries` entries over fixed tables, each
  * timed as its builder call plus a full-output `write.format("noop")`
  * (never `count()`, which lets Catalyst prune unused columns, windows
  * and sorts). Only the operator modules and the batch engine run here:
  * no streaming or control-plane code.
  */
object BatchCatalog {
  type Builder = (SparkSession, String) => DataFrame

  /** The timed queries, each with the query module that defines it (for
    * the per-module layer split), chosen to keep a warm pass near 5 s on
    * 4 cores at sf0.01 so a run fits the benchmark's time budget with a
    * warm-up pass and several timed passes (all 116 entries take ~90 s
    * warm there). Six of the 23 modules run: the relational flagship
    * (q1) and a window whose full output needs a shuffle that `count()`
    * skips, event sessions, dedup hashing, the PQ ADC scan, sketches and
    * curation percentiles. `layout_bucketed_join` is left out: its two
    * bucketed scratch copies share one path when orders and lineitem
    * have the same mtime (as in a fresh checkout), so it returns no rows
    * there. */
  val Selection: Seq[(String, String)] = Seq(
    "RelationalQueries" -> "q1_pricing_summary",
    "RelationalQueries" -> "window_running_sum",
    "EventQueries" -> "e11_sessions",
    "DedupQueries" -> "dedup_simhash",
    "AnnPq" -> "sim_pq_adc_topk",
    "SketchQueries" -> "t_distinct_sketch",
    "CurationQueries" -> "t_length_percentiles")

  /** Nominal length of a warm pass over `Selection` on 4 cores. */
  val PassMs = 5000L

  private def clearCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Builder call plus full-output run of one query, as one `query`
    * record; jobs are tagged with the phase through a local property.
    * With `out` set the output goes to parquet there (for the oracle)
    * instead of the noop sink. */
  private def timeOne(ctx: Ctx, module: String, name: String, build: Builder,
      dir: String, pass: Int, out: Option[String] = None): Unit = {
    val sc = ctx.spark.sparkContext
    val t0 = System.currentTimeMillis()
    var t1 = t0
    var error: Option[String] = None
    try {
      sc.setLocalProperty(Main.OpProperty, s"build:$name")
      val df = build(ctx.spark, dir)
      t1 = System.currentTimeMillis()
      sc.setLocalProperty(Main.OpProperty, s"run:$name")
      out match {
        case Some(path) => df.coalesce(1).write.mode("overwrite").parquet(path)
        case None => df.write.format("noop").mode("overwrite").save()
      }
    } catch {
      case e: Throwable => error = Some(s"${e.getClass.getName}: ${e.getMessage}")
    } finally sc.setLocalProperty(Main.OpProperty, null)
    val t2 = System.currentTimeMillis()
    ctx.rec.emit("query", "name" -> name, "module" -> module, "pass" -> pass,
      "start" -> t0, "built" -> (if (error.isEmpty) t1 else t2), "end" -> t2,
      "error" -> error)
    clearCaches(ctx.spark)
  }

  def run(ctx: Ctx): Unit = {
    val dir = ctx.data.getOrElse(sys.error("batch_catalog needs --data"))
    val entries = SparkEntry.queries
    val names = Selection.map(_._2)
    ctx.rec.emit("config", "data" -> dir, "queries" -> names)

    // set-up: an untimed pass that writes every output once for the
    // DuckDB oracle (tools/check.py, run by perfbench/run.py), then an
    // untimed noop pass; together they load classes, JIT-compile the hot
    // paths and fill the per-session memos some builders keep (a single
    // cold pass leaves the next one ~30% slower)
    val out = ctx.dir("oracle-out")
    ctx.setupRep(0) {
      Selection.foreach { case (m, n) =>
        timeOne(ctx, m, n, entries(n), dir, pass = -2, Some(s"$out/$n"))
      }
      Selection.foreach { case (m, n) => timeOne(ctx, m, n, entries(n), dir, pass = -1) }
    }
    names.foreach { n =>
      scala.util.Try(ctx.spark.read.parquet(s"$out/$n").count()).foreach(rows =>
        ctx.rec.emit("output", "name" -> n, "rows" -> rows))
    }
    Files.writeString(Paths.get(out, "oracle_sql.json"),
      Json(SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }))

    // a fixed number of whole passes, sized from --seconds: passes that
    // stop on the clock would vary in count with host speed, and later
    // passes run warmer, so the count itself would move the medians
    ctx.phase("window") {
      for (pass <- 0 until math.max(1, math.round(ctx.seconds * 1000.0 / PassMs).toInt))
        Selection.foreach { case (m, n) => timeOne(ctx, m, n, entries(n), dir, pass) }
    }
  }
}
