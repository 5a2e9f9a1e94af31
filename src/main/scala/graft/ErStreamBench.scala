package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.EntityResolution
import graft.streaming.Metrics

/** Streaming entity-resolution bench: the online record-linkage path
  * ([[EntityResolution.bestMatchStream]] — batch-built bounded name
  * model, broadcast; each micro-batch ONE stateless hash join) driven
  * at the reference's micro-bench offered rate (60 k ev/s,
  * micro-bench.sh:74,100-106). Reports rows/s and end-to-end resolve
  * latency percentiles (batch completion − max source timestamp, the
  * same sink-side latency the other stream benches record), so the
  * online-linkage claim carries a measured number.
  *
  * The stream replays the corpus's dirty registry (collected once,
  * cycled by the rate source's value counter) — every record exercises
  * the signature model exactly like the batch twin's input
  * distribution.
  *
  * Usage: runMain graft.ErStreamBench [rate] [seconds] [outFile]
  *   (corpus dir from SPARK_GRAFT_SF_DIR, default sf0.1)
  */
object ErStreamBench {

  def main(args: Array[String]): Unit = {
    val rate = args.headOption.map(_.toInt).getOrElse(60000)
    val seconds = args.lift(1).map(_.toInt).getOrElse(30)
    val outFile = args.lift(2)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // the replayed record set: the registry's (id, corrupted-name)
    // rows, the batch twin's exact input distribution
    val replay = Tables.customer(spark, dir)
      .select(col("c_custkey"),
        expr(EntityResolution.dirtyNameSqlForProbe).as("dname"))
      .as[(Long, String)].collect()
    require(replay.nonEmpty, s"empty registry at $dir")

    val raw = spark.readStream
      .format("rate").option("rowsPerSecond", rate).load()
    val stream = Metrics.observeSourceTs(raw, "timestamp")
      .select(col("value")).as[Long]
      .map { v =>
        val r = replay((v % replay.length).toInt)
        (r._1, r._2)
      }
      .toDF("src_id", "dname")

    val (r, g) = HostGuard.guarded(spark, "er_stream") {
      StreamBench.measure(spark, rate, seconds) {
        EntityResolution.bestMatchStream(stream, spark, dir)
          .writeStream.format("noop").outputMode("append").start()
      }
    }(_.meanRps)
    val line =
      s"""{"metric":"er_stream_rows_per_sec","value":${r.meanRps.round},""" +
        s""""unit":"rows/sec","config":{"rate":$rate,"registry_rows":${replay.length},"dir":"$dir"},""" +
        s""""result":${r.json},"guard":${g.json}}"""
    println(line)
    outFile.foreach(f => java.nio.file.Files.writeString(
      java.nio.file.Paths.get(f), line + "\n"))
    spark.stop()
  }
}
