package perfbench

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.Txn
import graft.stream.{Electron, Link}

/** A catenae topology, open loop. The calling thread is the generator: it
  * offers the seeded electrons on a fixed schedule to a MemoryStream (the
  * in-process stand-in for a Kafka topic), stamping each with the time it
  * was due. `Link.run` maps, fans out and drops them into the
  * exactly-once graft sink; a downstream `readStream.format("graft")`
  * query folds per-topic counts and records when each row arrived.
  *
  * Phases: the topology's start (the cold pass), the nominal rate (its
  * first twentieth of the window unmeasured), in a traced run a ladder
  * of fixed rates, then bursts that measure how fast a backlog drains.
  * Every micro-batch's progress is kept by a [[ProgressLog]]. */
final class StreamWorkload(planDir: String) extends Workload {
  import StreamWorkload._

  private var plan: Array[(String, String, String)] = Array.empty

  def warmUp(spark: SparkSession): Unit =
    plan = spark.read.parquet(s"$planDir/plan.parquet").orderBy("id")
      .select("key", "topic", "payload").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))

  /** One catenae topology over its own stand-in topic, sink table and
    * checkpoints: offers electrons, and records when each output row is
    * folded downstream. */
  private final class Topology(spark: SparkSession, base: String) {
    import spark.implicits._
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sinkRoot = s"$base/sink"
    private val ms = MemoryStream[Electron](TopicPartitions)
    val dues = ArrayBuffer.empty[Double] // due ms of each offered electron, by id
    var dropped = 0L
    val late = ArrayBuffer.empty[Double]
    val series = ArrayBuffer.empty[Map[String, Any]]
    val folds = ArrayBuffer.empty[(Double, Long)] // (fold ms, backlog left after it)
    // (id, due ms, arrival ms) of every ArrivalSample-th electron
    val arrivals = ArrayBuffer.empty[(Long, Double, Double)]
    val counts = scala.collection.mutable.Map.empty[String, Long]
    var downRows = 0L
    var expectedOut = 0L
    var sinkQ: StreamingQuery = _
    var downQ: StreamingQuery = _

    def offer(n: Int, dueOf: Int => Double): Unit = {
      val now = Clock.nowMs
      late += now - dueOf(0) // the oldest electron of the tick
      val batch = (0 until n).map(dueOf).map { due =>
        dues += due
        electron(plan, dues.size - 1, due)
      }
      val outs = batch.map(e => outputsOf(e.topic.get))
      expectedOut += outs.sum
      dropped += outs.count(_ == 0)
      ms.addData(batch)
    }
    def caughtUp: Boolean = arrivals.synchronized(downRows >= expectedOut)
    def sample(phase: String): Unit = arrivals.synchronized {
      series += Map("t" -> Clock.nowMs, "phase" -> phase, "offered" -> dues.size,
        "backlog" -> (expectedOut - downRows))
    }

    /** Starts both queries with a few electrons (at least one the Link
      * keeps) already in the topic, so the sink's first micro-batch always
      * holds them; returns the milliseconds from start until the
      * downstream query has folded all of them. */
    def start(): Double = {
      val t0 = Clock.nowMs
      offer(ColdEvents, _ => t0)
      require(expectedOut > 0, "the cold electrons must include one the Link keeps")
      sinkQ = link.run(ms.toDS()).toDF()
        .writeStream.format("graft").queryName("link_sink")
        .option("root", sinkRoot).option("checkpointLocation", s"$base/ck_sink").start()
      require(waitFor(Txn.currentVersion(spark, sinkRoot).isDefined, 60000),
        "the graft sink never committed its first version")
      val fold: (DataFrame, Long) => Unit = (df, _) => {
        val rows = df.select("topic", "value", "ts").collect()
        val at = Clock.nowMs
        arrivals.synchronized {
          rows.foreach { r =>
            counts(r.getString(0)) = counts.getOrElse(r.getString(0), 0L) + 1
            val id = r.getString(1).takeWhile(_ != '|').toLong
            if (id % ArrivalSample == 0) arrivals += ((id, millis(r.getTimestamp(2)), at))
          }
          downRows += rows.length
          folds += ((at, expectedOut - downRows))
        }
      }
      downQ = spark.readStream.format("graft").load(sinkRoot)
        .writeStream.queryName("fold_counts").foreachBatch(fold).start()
      require(waitFor(caughtUp, 60000), "the cold electrons never reached the downstream query")
      Clock.nowMs - t0
    }

    /** Offers at `rate` events/s for `durMs` milliseconds. Due times lie on
      * a fixed grid; every tick offers the events due so far as one
      * MemoryStream batch. */
    def phase(name: String, rate: Double, durMs: Double): (Double, Double) = {
      val t0 = Clock.nowMs
      val first = dues.size
      var lastSample = 0.0
      while (Clock.nowMs - t0 < durMs) {
        val due = math.min(((Clock.nowMs - t0) * rate / 1000).toInt, (durMs * rate / 1000).toInt)
        val n = first + due - dues.size
        if (n > 0) offer(n, j => t0 + (dues.size - first + j) * 1000 / rate)
        if (Clock.nowMs - lastSample >= 100) { sample(name); lastSample = Clock.nowMs }
        Thread.sleep(TickMs)
      }
      (t0, Clock.nowMs)
    }

    def stop(): Unit = { sinkQ.stop(); downQ.stop() }
  }

  private def waitFor(cond: => Boolean, timeoutMs: Double): Boolean = {
    val t0 = Clock.nowMs
    while (!cond && Clock.nowMs - t0 < timeoutMs) Thread.sleep(5)
    cond
  }

  def run(spark: SparkSession, seconds: Double, tracer: Option[Tracer]): Map[String, Any] = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("perfbench_stream").toString
    val progressLog = new ProgressLog
    spark.streams.addListener(progressLog)
    val t = new Topology(spark, base)
    val cold = t.start()
    // the first twentieth of the window settles the JIT at the nominal
    // rate and is not measured. An untraced run spends the rest of the
    // window at the nominal rate. A traced run traces the second half of
    // a shorter nominal phase, then climbs the ladder, which only
    // per-layer metrics read.
    t.phase("warmup", NominalRate, seconds * 1000 * 0.05)
    val nominalMs = seconds * 1000 * (if (tracer.isDefined) 0.3 else 0.8)
    val (n0, _) = t.phase("nominal", NominalRate, nominalMs / 2)
    tracer.foreach(_.attach())
    val (n2, n3) = t.phase("nominal", NominalRate, nominalMs / 2)
    val rungs = if (tracer.isEmpty) Nil else Ladder.map { r =>
      val (a, b) = t.phase(s"rung_$r", r, seconds * 1000 * RungShare)
      Map("rate" -> r, "start" -> a, "end" -> b)
    }
    // drain: let the ladder's backlog clear, then offer each burst at once
    // and time from when it is in the topic until all of it is folded
    // downstream
    var drained = waitFor(t.caughtUp, 30000)
    val bursts = (1 to Bursts).map { _ =>
      val at = Clock.nowMs
      t.offer(Burst, _ => at)
      val inTopic = Clock.nowMs
      drained &&= waitFor(t.caughtUp, 60000)
      Map("start" -> inTopic, "drain_ms" -> (Clock.nowMs - inTopic))
    }
    tracer.foreach(_.detach())
    t.stop()
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.streams.removeListener(progressLog)

    // checks: the sink equals the Link applied to every offered electron
    // (no loss, no duplicates); the folded counts equal a batch recount
    val sinkRows = Txn.read(spark, t.sinkRoot)
      .select("key", "value", "topic", "previousTopic", "ts")
    val planB = spark.sparkContext.broadcast(plan)
    val duesB = spark.sparkContext.broadcast(t.dues.toArray)
    val offered = spark.range(t.dues.size).map { id =>
      electron(planB.value, id.intValue, duesB.value(id.intValue))
    }
    val expected = link.run(offered).toDF()
      .select("key", "value", "topic", "previousTopic", "ts")
    val batchCounts = sinkRows.groupBy("topic").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val checks = Map(
      "drained" -> drained,
      "sink_digest" -> Digest.of(sinkRows), "expected_digest" -> Digest.of(expected),
      "folded_counts" -> t.counts.toMap, "batch_counts" -> batchCounts,
      "expected_rows" -> t.expectedOut, "downstream_rows" -> t.downRows,
      "offered" -> t.dues.size, "dropped" -> t.dropped)
    val progress = progressLog.rows.groupBy(_("name").toString)
    Map("checks" -> checks, "progress" -> progress, "series" -> t.series.toList,
      "folds" -> t.folds.map { case (at, b) => Seq(at, b) }.toList,
      "arrivals" -> t.arrivals.map { case (i, d, a) => Seq(i, d, a) }.toList,
      "late_ms" -> t.late.toList, "cold_ms" -> cold,
      "nominal" -> Map("rate" -> NominalRate, "start" -> n0, "traced_from" -> n2, "end" -> n3),
      "rungs" -> rungs, "burst_events" -> Burst, "bursts" -> bursts,
      "txn" -> txnFootprint(spark, t.sinkRoot), "ops" -> Nil)
  }

  /** Table versions and the bytes the table format adds per data byte. */
  private def txnFootprint(spark: SparkSession, root: String): Map[String, Any] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listFiles(p, true)
    var data = 0L
    var meta = 0L
    while (files.hasNext) {
      val f = files.next()
      val name = f.getPath.getName
      if (name.endsWith(".crc")) ()
      else if (name.endsWith(".parquet") && f.getPath.toString.contains("/data/")) data += f.getLen
      else meta += f.getLen
    }
    Map("versions" -> Txn.currentVersion(spark, root).getOrElse(0L),
      "data_bytes" -> data, "meta_bytes" -> meta)
  }

}

object StreamWorkload {
  /** Rates, events/s. On 4 vCPU the sink's knee was about 100k ev/s: at
    * 64k ev/s the backlog held level with a p99 of 3.1 s, at 128k it grew
    * by 25k events/s (perfbench/METRICS.md). The nominal rate is 1/20 of
    * the knee, where per-batch fixed cost sets the latency; the ladder
    * runs from a quarter of the knee to twice it. */
  val NominalRate = 5000.0
  val Ladder: Seq[Double] = Seq(25000.0, 50000.0, 100000.0, 200000.0)
  /** Share of the window each ladder rung lasts. */
  val RungShare = 0.125
  /** A burst is about one second of the knee's rate, so its drain time
    * is mostly processing, not the fixed latency of two micro-batches. */
  val Burst = 100000
  val Bursts = 5
  val TickMs = 20L
  val ColdEvents = 8
  /** Arrival times are kept for the electrons whose id is a multiple of
    * this: enough for the percentiles, and the record stays small. */
  val ArrivalSample = 10
  /** Partitions of the stand-in topic: each micro-batch reads this many
    * input partitions, however many ticks it spans, as from Kafka. */
  val TopicPartitions = 4
  /** Rows the Link emits per electron of each topic. */
  def outputsOf(topic: String): Int = topic match {
    case "audit"  => 0
    case "fanout" => 2
    case _        => 1
  }

  /** map (upper-cases the payload), fan-out (two topics) and drop (audit). */
  val link: Link = Link((e: Electron) => e.previousTopic match {
    case Some("audit")  => Seq.empty
    case Some("fanout") => Seq(e.copy(topic = Some("fan_a")), e.copy(topic = Some("fan_b")))
    case _              => Seq(e.copy(value = e.value.toUpperCase))
  }, outTopic = Some("enriched"))

  /** The electron with this id, due at `due` ms: the generator offers it,
    * and the output check rebuilds it. */
  def electron(plan: Array[(String, String, String)], id: Int, due: Double): Electron = {
    val (k, t, p) = plan(id % plan.length)
    Electron(Some(k), s"$id|$p", Some(t), None, stamp(due))
  }

  def stamp(ms: Double): Timestamp = {
    val t = new Timestamp(math.floor(ms).toLong)
    t.setNanos(((ms - math.floor(ms / 1000) * 1000) * 1e6).toInt / 1000 * 1000)
    t
  }
  def millis(t: Timestamp): Double = (t.getTime / 1000) * 1000.0 + t.getNanos / 1e6
}
