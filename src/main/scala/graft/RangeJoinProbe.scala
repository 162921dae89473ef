package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Production-shaped scale point for the stream-stream time-range join
  * (r14 verdict item 5): the `st_range_join` GATE feeds one giant
  * micro-batch under a corpus-span watermark so append-mode equals the
  * batch join the DuckDB oracle replays — correct for the oracle,
  * wrong for a scale measurement, because state eviction only happens
  * BETWEEN micro-batches (a single batch holds every row in the state
  * store at once; at ×1000 that is ~40M state rows and an executor
  * OOM, measured). This main runs the join the way production would:
  *
  *   - events arrive in TIME ORDER across `nBatches` micro-batches
  *     (equal event-time slices, both sides aligned);
  *   - the watermark is TIGHT (24h join window + 1h delay), so each
  *     committed batch evicts everything older than the window —
  *     state is bounded by rows-per-window, not corpus size
  *     (StreamingSpec pins the same contract at unit scale);
  *   - max state rows across the run is recorded from the progress
  *     stream — the measured bounded-state proof.
  *
  * Reference analogue: bounded-memory update buffering
  * (next-plaid/src/update.rs:75-108).
  *
  * Prints one JSON line: `{"metric":"range_join_probe","factor":N,
  * "clicks":...,"purchases":...,"pairs":...,"sec":...,
  * "max_state_rows":...,"batches":...,"parts":...}`.
  *
  * Usage: `SPARK_DRIVER_MEM=64g sbt "runMain graft.RangeJoinProbe 1000 60"`
  * (generates /tmp/graft_scale_x{N}/events.parquet from
  * `SPARK_GRAFT_SF_DIR` with [[BenchOne.generateTables]] if absent).
  */
object RangeJoinProbe {

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(1000)
    val nBatches = if (args.length > 1) args(1).toInt else 60
    // optional 3rd arg: state-store provider — "rocksdb" (the production
    // choice for state larger than executor heaps: spill-to-disk, no
    // full-map JVM residency, changelog checkpointing) vs the default
    // HDFS-backed in-memory provider. The join's state here is bounded
    // by the watermark (~1k rows), so this A/Bs provider OVERHEAD at a
    // commit-heavy workload, not capacity.
    val provider = if (args.length > 2) args(2) else "hdfs"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (provider == "rocksdb")
      builder.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val calibPre = Bench.calibrate(spark)
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    BenchOne.generateTables(spark, sfDir, factor, s"/tmp/graft_scale_x$factor", Set("events"))
    val path = s"/tmp/graft_scale_x$factor/events.parquet"
    def side(tp: String): Array[(Long, Long, Long)] = spark.read.parquet(path)
      .filter(col("event_type") === tp)
      .select(unix_micros(col("ts")), col("user_id"), col("event_id"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val clicks = side("click")
    val buys = side("purchase")
    require(clicks.nonEmpty && buys.nonEmpty,
      s"empty event side (clicks=${clicks.length}, purchases=${buys.length})" +
        s" — was $path generated with the events table included?")

    val clickS = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long)]
    val buyS = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long)]
    val clicksDf = clickS.toDF().toDF("c_us", "c_user", "click_id")
      .withColumn("c_ts", timestamp_micros(col("c_us")))
      .withWatermark("c_ts", "1 hour")
    val buysDf = buyS.toDF().toDF("p_us", "p_user", "purchase_id")
      .withColumn("p_ts", timestamp_micros(col("p_us")))
      .withWatermark("p_ts", "1 hour")
    val joined = buysDf.join(clicksDf,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 24 HOURS") &&
        col("c_ts") <= col("p_ts"))
      .select(col("purchase_id"), col("click_id"))
    val ckpt = s"/tmp/graft_rjprobe_x$factor"
    graft.util.Fs.deleteRecursively(ckpt)
    val pairs = new java.util.concurrent.atomic.AtomicLong(0L)
    val t0 = System.nanoTime()
    val q = joined.writeStream.outputMode("append")
      .option("checkpointLocation", s"$ckpt/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        pairs.addAndGet(b.count()); ()
      }
      .start()
    // equal EVENT-TIME slices, both sides aligned — the arrival order a
    // real source (Kafka by time) delivers
    val lo = math.min(clicks.head._1, buys.head._1)
    val hi = math.max(clicks.last._1, buys.last._1) + 1
    val step = math.max(1L, (hi - lo) / nBatches)
    var maxState = 0L
    var ci = 0
    var bi = 0
    var cut = lo + step
    while (cut <= hi + step) {
      val cEnd = clicks.indexWhere(_._1 >= cut, ci) match { case -1 => clicks.length; case x => x }
      val bEnd = buys.indexWhere(_._1 >= cut, bi) match { case -1 => buys.length; case x => x }
      if (cEnd > ci) { clickS.addData(clicks.slice(ci, cEnd).toIndexedSeq); ci = cEnd }
      if (bEnd > bi) { buyS.addData(buys.slice(bi, bEnd).toIndexedSeq); bi = bEnd }
      q.processAllAvailable()
      val st = Option(q.lastProgress).toSeq
        .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
      if (st > maxState) maxState = st
      cut += step
    }
    q.stop()
    val sec = (System.nanoTime() - t0) / 1e9
    println(
      f"""{"metric":"range_join_probe","factor":$factor,""" +
        f""""clicks":${clicks.length},"purchases":${buys.length},""" +
        f""""pairs":${pairs.get()},"sec":$sec%.1f,"max_state_rows":$maxState,""" +
        f""""batches":$nBatches,"parts":$cpus,"provider":"$provider",""" +
        f""""watermark":"24h window + 1h delay",""" +
        Bench.calibJson(calibPre, Bench.calibrate(spark)) + "}")
    spark.stop()
  }
}
