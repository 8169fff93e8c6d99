package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** Closed-loop batch run, one client: a cold pass that writes every
  * query's result for the oracle compare, then warm passes through the
  * `noop` sink until the measured time is used up. Each query runs under
  * its own job group, so the listener can split jobs, stages and task
  * metrics by query. */
object BatchRun {

  def run(conf: Map[String, String], out: Path): Unit = {
    val launchMs = conf("launch_ms").toDouble
    val traced = conf("trace") == "1"
    val spans = new Spans(traced)
    val sfDir = conf("sf_dir")
    val names = conf("queries").split(',').toSeq
    val seconds = conf("seconds").toDouble
    val meta = ArrayBuffer.empty[(String, Any)]

    val spark = Harness.session(conf("master"), conf("partitions").toInt, out)
    val sessionUp = Harness.epochMs() - launchMs
    val listener = new Capture
    if (traced) spark.sparkContext.addSparkListener(listener)
    // footer and schema reads of every table, as any first query pays them
    val tablesMs = Harness.epochMs()
    Seq("lineitem", "orders", "customer", "part", "supplier", "nation", "region",
      "documents", "embeddings").foreach(t => Tables.load(spark, sfDir, t).limit(1).collect())
    Tables.events(spark, sfDir).limit(1).collect()
    meta += "session_up_ms" -> sessionUp
    meta += "tables_ms" -> (Harness.epochMs() - tablesMs)

    val queries = SparkEntry.queries
    val missing = names.filterNot(queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val lines = ArrayBuffer.empty[String]

    def timed(pass: String, name: String)(body: => Unit): Unit = {
      spark.sparkContext.setJobGroup(s"$pass/$name", name, interruptOnCancel = false)
      val t0 = Harness.epochMs(); val n0 = System.nanoTime()
      body
      val secs = (System.nanoTime() - n0) / 1e9
      spans.add("query", s"$pass/$name", "", t0, Harness.epochMs())
      lines += Seq(pass, name, secs).mkString("\t")
      spark.sparkContext.clearJobGroup()
    }

    names.foreach(n => timed("cold", n) {
      queries(n)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(out.resolve("results").resolve(n).toString)
    })
    val oracle = SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
    Files.writeString(out.resolve("oracle_sql.json"),
      Harness.jsonObj(oracle.toSeq.sortBy(_._1)))

    val warm0 = System.nanoTime()
    var pass = 0
    while (pass < 2 || (System.nanoTime() - warm0) / 1e9 < seconds) {
      pass += 1
      names.foreach(n => timed(s"warm$pass", n) {
        queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
      })
    }

    if (traced) listener.drain()
    meta += "rss_peak_mb" -> Harness.rssPeakMb()
    meta += "spans" -> spans.count
    meta += "trace_record_ms" -> spans.recordMs

    Harness.writeLines(out.resolve("queries.tsv"), lines)
    if (traced) listener.write(out)
    spans.write(out.resolve("spans.jsonl"))
    Harness.writeLines(out.resolve("meta.json"), Seq(Harness.jsonObj(meta.toSeq)))
  }

  /** Per-stage task totals, job → group and stage mapping, and block
    * updates, from the public listener events. */
  final class Capture extends SparkListener {
    private val stageTotals = new ConcurrentHashMap[Int, Array[Double]]()
    private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    private val blocks = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile private var lastEventNs = System.nanoTime()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobs.add(Seq(e.jobId, group, e.stageIds.mkString(",")).mkString("\t"))
      lastEventNs = System.nanoTime()
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val t = stageTotals.computeIfAbsent(e.stageId, _ => new Array[Double](7))
        t.synchronized {
          t(0) += 1
          t(1) += m.executorRunTime / 1e3
          t(2) += m.executorCpuTime / 1e9
          t(3) += m.jvmGCTime / 1e3
          t(4) += (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / 1e6
          t(5) += m.shuffleWriteMetrics.bytesWritten / 1e6
          t(6) += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6
        }
      }
      lastEventNs = System.nanoTime()
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val i = e.blockUpdatedInfo
      blocks.add(Seq(i.blockId.name, i.storageLevel.isValid, i.memSize, i.diskSize).mkString("\t"))
      lastEventNs = System.nanoTime()
    }

    /** Wait until the listener bus has been quiet for half a second. */
    def drain(): Unit =
      while (System.nanoTime() - lastEventNs < 500000000L) Thread.sleep(50)

    def write(out: Path): Unit = {
      Harness.writeLines(out.resolve("jobs.tsv"), jobs.asScala)
      Harness.writeLines(out.resolve("stages.tsv"), stageTotals.asScala.toSeq.sortBy(_._1)
        .map { case (id, t) => (id +: t.toSeq).mkString("\t") })
      Harness.writeLines(out.resolve("blocks.tsv"), blocks.asScala)
    }
  }
}

/** The reference-fold test's JVM half: `Ohlcv.bars` over a small CSV of
  * trades, one row per (product, 1-minute window). */
object BarsCheck {
  def run(conf: Map[String, String], out: Path): Unit = {
    import org.apache.spark.sql.functions.{col, timestamp_millis}
    val spark = Harness.session("local[2]", 2, out)
    val trades = spark.read.schema(graft.model.Schemas.trade).option("header", "true")
      .csv(conf("trades"))
    val bars = graft.operators.Ohlcv.bars(trades, timestamp_millis(col("timestamp")),
      col("price"), col("qty"), Seq("product" -> col("product")), "1 minute",
      col("instrument_id"))
    val rows = bars.collect().map { r =>
      Seq(r.getAs[String]("product"), r.getAs[java.sql.Timestamp]("window_start").getTime,
        r.getAs[Double]("open"), r.getAs[Double]("high"), r.getAs[Double]("low"),
        r.getAs[Double]("close"), r.getAs[Long]("volume")).mkString(",")
    }
    spark.stop()
    Harness.writeLines(out.resolve("bars.csv"), rows.toSeq)
  }
}
