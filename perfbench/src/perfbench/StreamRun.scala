package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.model.{BarState, RunningBar, Trade}
import graft.streaming.{KafkaIO, StreamingOhlcv}

/** Streaming run. Each query (`steps`, in order, on one session) runs the
  * public pipeline `KafkaIO.parseTrades` → `StreamingOhlcv.withEventTime`
  * → `StreamingOhlcv.statefulBars(emitRunning = true)` over a
  * `MemoryStream[String]` of wire JSON. A single generator thread appends
  * whole chunks of the query's schedule (see [[Phase]]); chunk `k` holds
  * the events whose event-time offset falls in `[k * tick, (k + 1) * tick)`
  * ms, so a micro-batch never splits one millisecond of event time.
  *
  * After the last chunk the run drains, then appends two sentinels far
  * ahead in event time: the first advances the watermark, the second
  * forces a batch that fires every open window's final bar.
  */
object StreamRun {

  /** One query's input: wire strings, and `bounds(k) until bounds(k + 1)`
    * the events appended at tick `k`. */
  final case class Step(name: String, lines: Array[String], bounds: Array[Int], tickMs: Long,
      sentinels: Seq[String], phases: Seq[Phase])

  /** Ticks `k0 until k1` of the schedule, either paced (one tick per tick)
    * or saturating (closed loop, `chunkTicks` ticks per append). */
  final case class Phase(saturate: Boolean, k0: Int, k1: Int, chunkTicks: Int)

  def run(conf: Map[String, String], out: Path): Unit = {
    val launchMs = conf("launch_ms").toDouble
    val traced = conf("trace") == "1"
    val parts = conf("partitions").toInt
    val spans = new Spans(traced)
    val meta = ArrayBuffer.empty[(String, Any)]
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val queryStep = new ConcurrentHashMap[String, String]()
    val lastBatch = new ConcurrentHashMap[String, java.lang.Long]()
    val committed = new ConcurrentHashMap[String, Long]()

    // Inputs arrive on stdin, query by query: a line "<events> <bounds>",
    // then that many wire strings, then that many chunk bounds. Read once
    // the session is up, so set-up time does not include them.
    lazy val inputs = {
      val stdin = new java.io.BufferedReader(new java.io.InputStreamReader(System.in, UTF_8), 1 << 20)
      conf("queries").split(',').map { name =>
        val Array(n, b) = stdin.readLine().split(' ').map(_.toInt)
        name -> (Array.fill(n)(stdin.readLine()), Array.fill(b)(stdin.readLine().toInt))
      }.toMap
    }
    def load(name: String): Step = Step(name, inputs(name)._1, inputs(name)._2,
      conf("tick_ms").toLong, conf(s"step.$name.sentinels").split('\u0001').toSeq,
      conf(s"step.$name.phases").split(';').toSeq.map { p =>
        val f = p.split(',')
        Phase(f(0) == "sat", f(1).toInt, f(2).toInt, f(3).toInt)
      })

    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val step = queryStep.getOrDefault(p.id.toString, "?")
        progress.add(s"""{"step": ${Harness.jsonStr(step)}, "p": ${p.json}}""")
        lastBatch.put(step, p.batchId)
        Option(p.sources.head.endOffset).filter(_ != "null")
          .foreach(o => committed.put(step, o.trim.toLong))
      }
    }

    var spark = Harness.session(conf("master"), parts, out)
    meta += "session_up_ms" -> (Harness.epochMs() - launchMs)
    spark.streams.addListener(listener)
    val sinkLines = ArrayBuffer.empty[String]
    val finalLines = ArrayBuffer.empty[String]
    val genLines = ArrayBuffer.empty[String]

    def play(spark: SparkSession, step: Step, label: String): Unit = {
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      // like a topic of `parts` partitions: every micro-batch reads `parts`
      // input partitions however many appends it spans
      val input = MemoryStream[String](parts)
      val bars = StreamingOhlcv.statefulBars(
        StreamingOhlcv.withEventTime(KafkaIO.parseTrades(input.toDF()), conf("slack")),
        widthMs = conf("width_ms").toLong, emitRunning = true)

      val sink = (ds: Dataset[RunningBar], batchId: Long) => {
        val t0 = Harness.epochMs()
        val got = ds.rdd.mapPartitions { it =>
          var running = 0L
          val finals = ArrayBuffer.empty[RunningBar]
          it.foreach(b => if (b.end_of_window) finals += b else running += 1)
          Iterator((running, finals.toArray))
        }.collect()
        val running = got.map(_._1).sum
        val finals = got.flatMap(_._2)
        finals.foreach { b =>
          finalLines += Seq(label, b.product, b.time.getTime, b.open, b.high, b.low,
            b.close, b.volume).mkString(",")
        }
        val t1 = Harness.epochMs()
        sinkLines += Seq(label, batchId, running, finals.length, t0, t1).mkString("\t")
        spans.add("sink", s"$label/$batchId", s"$label/$batchId", t0, t1,
          "running" -> running, "finals" -> finals.length)
        ()
      }

      val ckpt = out.resolve("ckpt").resolve(label)
      val tq0 = Harness.epochMs()
      val q = bars.writeStream.outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch(sink).start()
      queryStep.put(q.id.toString, label)

      // The generator: one thread. A paced phase appends one tick per tick
      // on a fixed schedule that never waits on the engine; a saturating
      // phase keeps two chunks queued ahead of the engine for as long as
      // the phase lasts on the schedule.
      val t0ns = System.nanoTime()
      val t0ms = System.currentTimeMillis().toDouble
      def nowMs(): Double = t0ms + (System.nanoTime() - t0ns) / 1e6
      var offset = -1L
      def append(k0: Int, k1: Int, dueMs: Double): Unit = {
        val (lo, hi) = (step.bounds(k0), step.bounds(k1))
        val a0 = nowMs()
        input.addData(step.lines.slice(lo, hi).toSeq)
        val a1 = nowMs()
        offset += 1
        genLines += Seq(label, offset, lo, hi, dueMs, a0, a1).mkString("\t")
        spans.add("gen.append", s"$label/gen", "", a0, a1, "offset" -> offset, "events" -> (hi - lo))
      }
      val phaseStarts = step.phases.map { ph =>
        val startNs = System.nanoTime()
        val startMs = nowMs()
        if (ph.saturate) {
          val endNs = startNs + (ph.k1 - ph.k0) * step.tickMs * 1000000L
          var k = ph.k0
          while (k < ph.k1 && System.nanoTime() < endNs) {
            if (offset - committed.getOrDefault(label, -1L) < 2) {
              val k1 = math.min(k + ph.chunkTicks, ph.k1)
              append(k, k1, nowMs())
              k = k1
            } else LockSupport.parkNanos(200000L)
          }
          var wait = endNs - System.nanoTime()
          while (wait > 0) { LockSupport.parkNanos(wait); wait = endNs - System.nanoTime() }
        } else for (k <- ph.k0 until ph.k1) {
          val dueNs = startNs + (k - ph.k0 + 1) * step.tickMs * 1000000L
          var wait = dueNs - System.nanoTime()
          while (wait > 0) { LockSupport.parkNanos(wait); wait = dueNs - System.nanoTime() }
          append(k, k + 1, startMs + (k - ph.k0 + 1) * step.tickMs)
        }
        startMs
      }
      val genEnd = nowMs()
      q.processAllAvailable()
      val drained = nowMs()
      step.sentinels.foreach { s => input.addData(Seq(s)); q.processAllAvailable() }
      val lastId = q.lastProgress.batchId
      q.stop()
      val deadline = System.nanoTime() + 10000000000L
      while (Option(lastBatch.get(label)).forall(_ < lastId) && System.nanoTime() < deadline)
        Thread.sleep(10)
      meta += s"step.$label" -> Harness.Raw(Harness.jsonObj(Seq("query_start_ms" -> tq0,
        "gen_start_ms" -> t0ms, "gen_end_ms" -> genEnd, "drained_ms" -> drained,
        "phase_starts_ms" -> Harness.Raw(phaseStarts.mkString("[", ", ", "]")),
        "events" -> step.lines.length, "last_batch" -> lastId)))
    }

    val steps = conf("steps").split(',').toSeq
    steps.foreach(s => play(spark, load(s), s))

    if (traced) {
      timeDecodeAndFold(spark, load(conf("decode_step")), spans, meta)
      // single-threaded baseline: the same paced step on a one-core session
      val base = load(conf("local1_step"))
      spark.streams.removeListener(listener)
      spark.stop()
      spark = Harness.session("local[1]", parts, out.resolve("local1"))
      spark.streams.addListener(listener)
      play(spark, base, "local1")
    }

    meta += "rss_peak_mb" -> Harness.rssPeakMb()
    meta += "spans" -> spans.count
    meta += "trace_record_ms" -> spans.recordMs

    Harness.writeLines(out.resolve("progress.jsonl"), progress.asScala)
    Harness.writeLines(out.resolve("sink.tsv"), sinkLines)
    Harness.writeLines(out.resolve("finals.csv"), finalLines)
    Harness.writeLines(out.resolve("gen.tsv"), genLines)
    spans.write(out.resolve("spans.jsonl"))
    Harness.writeLines(out.resolve("meta.json"), Seq(Harness.jsonObj(meta.toSeq)))
  }

  /** Off-clock timings of two single layers on the workload's own
    * strings: JSON decode (`KafkaIO.parseTrades`) and the bar fold
    * (`BarState.updated`). Median of three repetitions each. */
  private def timeDecodeAndFold(spark: SparkSession, step: Step, spans: Spans,
      meta: ArrayBuffer[(String, Any)]): Unit = {
    import spark.implicits._
    val sample = step.lines.take(300000).toSeq
    val raw = sample.toDF("value").persist()
    raw.count()
    val decodeNs = (1 to 3).map { i =>
      val t0 = Harness.epochMs(); val n0 = System.nanoTime()
      KafkaIO.parseTrades(raw).write.format("noop").mode("overwrite").save()
      val ns = System.nanoTime() - n0
      spans.add("decode.parseTrades", "decode", "", t0, Harness.epochMs(), "rep" -> i)
      ns.toDouble / sample.length
    }.sorted
    val trades: Array[Trade] = KafkaIO.parseTrades(raw).collect()
    raw.unpersist()
    val foldNs = (1 to 3).map { i =>
      val t0 = Harness.epochMs(); val n0 = System.nanoTime()
      val bars = new java.util.HashMap[(String, Long), BarState]()
      trades.foreach { t =>
        val ws = t.timestamp / 60000L * 60000L
        val key = (t.product, ws)
        val st = bars.get(key)
        bars.put(key, BarState.updated(if (st == null) BarState.init(ws) else st,
          t.timestamp, t.instrument_id, t.price, t.qty))
      }
      val ns = System.nanoTime() - n0
      spans.add("model.fold", "fold", "", t0, Harness.epochMs(), "rep" -> i)
      ns.toDouble / math.max(1, trades.length)
    }.sorted
    meta += "decode_ns_per_event" -> decodeNs(1)
    meta += "decode_sample" -> sample.length
    meta += "decode_sample_rejected" -> (sample.length - trades.length)
    meta += "fold_ns_per_event" -> foldNs(1)
  }
}
