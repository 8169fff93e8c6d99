package perfbench

import java.io.{BufferedWriter, File, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.Properties

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}

/** JVM side of the benchmark. `run.py` generates the inputs, launches
  * this with a properties file, and computes every metric from the files
  * written here. This side only drives the program through its public
  * functions and records what it observes: generator appends, the
  * public `StreamingQueryProgress` events, the sink's capture, and (in
  * batch) per-query wall times plus `SparkListener` events.
  *
  * Modes (property `mode`): `stream`, `batch`, `bars` (the reference-fold
  * test: `Ohlcv.bars` over a small CSV of trades).
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val props = new Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)), UTF_8)
    try props.load(in) finally in.close()
    val conf = props.asScala.toMap
    val out = Paths.get(conf("out"))
    Files.createDirectories(out)
    conf("mode") match {
      case "stream" => StreamRun.run(conf, out)
      case "batch" => BatchRun.run(conf, out)
      case "bars" => BarsCheck.run(conf, out)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
    // Every output is written. Skip the shutdown hooks and Spark's stop:
    // both delete the run's local directories, and on some disks deleting
    // thousands of small files takes tens of seconds. The run directory
    // keeps them.
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }

  /** Local session confined to the run directory: spill, warehouse and
    * temp files all stay under `dir`. */
  def session(master: String, partitions: Int, dir: Path): SparkSession = {
    val local = dir.resolve("local"); Files.createDirectories(local)
    val spark = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Peak resident set of this process (VmHWM), MB. */
  def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def epochMs(): Double = System.currentTimeMillis().toDouble

  def writeLines(p: Path, lines: Iterable[String]): Unit = {
    val w = Files.newBufferedWriter(p, UTF_8)
    try lines.foreach { l => w.write(l); w.newLine() } finally w.close()
  }

  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** A value that is already JSON. */
  final case class Raw(json: String)

  def jsonObj(kv: Seq[(String, Any)]): String = kv.map { case (k, v) =>
    val js = v match {
      case Raw(j) => j
      case s: String => jsonStr(s)
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case x => x.toString
    }
    s"${jsonStr(k)}: $js"
  }.mkString("{", ", ", "}")
}

/** In-memory spans, written once at the end of a traced run. Spans of
  * one micro-batch or one query share `trace`. */
final class Spans(enabled: Boolean) {
  private val buf = ArrayBuffer.empty[String]
  private var recordNs = 0L

  def add(name: String, trace: String, parent: String, startMs: Double,
      endMs: Double, attrs: (String, Any)*): Unit = if (enabled) {
    val t0 = System.nanoTime()
    val line = Harness.jsonObj(Seq("name" -> name, "trace" -> trace,
      "parent" -> parent, "start_ms" -> startMs, "end_ms" -> endMs) ++ attrs)
    buf.synchronized { buf += line; recordNs += System.nanoTime() - t0 }
  }

  def write(p: Path): Unit = if (enabled) buf.synchronized {
    Harness.writeLines(p, buf)
  }
  def count: Int = buf.synchronized(buf.size)
  def recordMs: Double = buf.synchronized(recordNs / 1e6)
}
