package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** JVM side of one benchmark run. Writes the raw record of the run (ops,
  * spans, checks, effective conf) as JSON; perfbench/run.py turns it into
  * the metrics line.
  *
  * {{{
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <input dir>
  *                  <work dir> <cores> <launch epoch ms>
  * }}}
  * The record goes to `<work dir>/raw.json`; the registry workload reads
  * its key list from `<work dir>/keys.txt`. */
object Main {
  /** One measured call: a registry query. */
  final case class Op(name: String, pass: Int, traced: Boolean, start: Double,
      buildEnd: Double, end: Double, digest: String, error: String) {
    def toMap: Map[String, Any] = Map("name" -> name, "pass" -> pass, "traced" -> traced,
      "start" -> start, "build_end" -> buildEnd, "end" -> end, "digest" -> digest,
      "error" -> error)
  }

  /** The session `graft.Bench` builds, with the same confs and nothing else. */
  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val mainAt = Clock.nowMs
    val Array(workload, seedS, secondsS, traceS, input, work, coresS, launchS) = args
    val cores = coresS.toInt
    val traced = traceS == "1"
    val w: Workload = workload match {
      case "registry" => new Registry(input, s"$work/keys.txt", seedS.toLong)
      case "stream"   => new StreamWorkload(input)
      case other      => sys.error(s"unknown workload $other")
    }
    // set-up: the one cold session start plus the input warm-up
    val t0 = Clock.nowMs
    val spark = session(cores)
    w.warmUp(spark)
    val setupMs = Clock.nowMs - t0
    val conf = spark.conf.getAll.filter { case (k, _) => k.startsWith("spark.") }
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val record = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seedS.toLong, "seconds" -> secondsS.toDouble,
      "trace" -> traced, "cores" -> cores, "jvm_start_ms" -> (mainAt - launchS.toDouble),
      "setup_ms" -> setupMs, "conf" -> conf)
    record("ready_ms") = Clock.nowMs - launchS.toDouble
    try {
      record ++= w.run(spark, secondsS.toDouble, tracer)
      tracer.foreach(t => record("trace_events") = t.dump)
    } finally {
      record("done_ms") = Clock.nowMs - launchS.toDouble
      spark.stop()
    }
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    java.nio.file.Files.write(java.nio.file.Paths.get(work, "raw.json"), mapper.writeValueAsBytes(record))
  }
}

/** A benchmark workload: warms its inputs during set-up, then measures. */
trait Workload {
  def warmUp(spark: SparkSession): Unit
  /** Runs the measured window and what the output checks need; returns
    * the record's workload-specific entries (at least `ops`). */
  def run(spark: SparkSession, seconds: Double, tracer: Option[Tracer]): Map[String, Any]
}

/** Closed-loop passes over a fixed list of named calls (the registry
  * workload's keys). Pass 0 is the cold pass and pass 1 settles the JIT;
  * the window of `seconds` starts when pass 1 ends and holds the warm
  * passes. In a traced run the tracer is attached on even passes only
  * (the cold pass included, so its compiles are seen), so traced and
  * untraced warm passes interleave and their ratio is the tracing
  * overhead. At least one warm pass runs (one of each kind when traced),
  * however short the window. */
object Passes {
  def run(spark: SparkSession, seconds: Double, tracer: Option[Tracer],
      order: Int => Seq[String])(call: String => (Double, String)): Seq[Main.Op] = {
    val ops = ArrayBuffer.empty[Main.Op]
    val minPasses = if (tracer.isDefined) 4 else 3
    var deadline = Double.MaxValue
    var pass = 0
    while (pass < minPasses || Clock.nowMs < deadline) {
      val traceThis = tracer.isDefined && pass % 2 == 0
      if (traceThis) tracer.get.attach()
      for (name <- order(pass)) {
        spark.sparkContext.setLocalProperty(Tracer.OpKey, s"$pass:$name")
        val t0 = Clock.nowMs
        val (buildEnd, digest, err) =
          try { val (b, d) = call(name); (b, d, "") }
          catch { case NonFatal(e) => (Clock.nowMs, "", s"${e.getClass.getName}: ${e.getMessage}".take(400)) }
          finally { spark.catalog.clearCache(); spark.sparkContext.setLocalProperty(Tracer.OpKey, null) }
        ops += Main.Op(name, pass, traceThis, t0, buildEnd, Clock.nowMs, digest, err)
      }
      if (traceThis) tracer.get.detach()
      if (pass == 1) deadline = Clock.nowMs + seconds * 1000
      pass += 1
    }
    ops.toSeq
  }
}
