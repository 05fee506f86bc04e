package graft

/** Dev-only timing/plan probe (not part of the driver contract).
  * Usage: `Probe <key> [sfDir]` times one query twice and prints its
  * formatted physical plan; `Probe plan:<key>` only dumps the plan;
  * `Probe jobs:<key>` prints a per-stage breakdown of a warm run.
  * `PROBE_CONF="k=v;k2=v2"` sets session confs first. */
object Probe {
  def main(args: Array[String]): Unit = {
    val key = if (args.nonEmpty) args(0) else "agg_pricing_summary"
    val sf = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val t00 = System.nanoTime()
    val spark = GraftSession.local(GraftSession.cpus)
    def tick(label: String, t0: Long): Long = {
      val t = System.nanoTime(); println(f"[probe] $label: ${(t - t0) / 1e9}%.2f s"); t
    }
    var t = tick("session", t00)
    sys.env.get("PROBE_CONF").foreach { kvs =>
      kvs.split(";").foreach { kv =>
        val Array(k2, v2) = kv.split("=", 2); spark.conf.set(k2, v2)
      }
    }
    key.split(":", 2) match {
      case Array("plan", k) =>
        // build-only formatted-plan dump (no timed run) for the committed
        // plans/<round> evidence files; build-time training actions still
        // run (they are part of building the frame)
        val df = SparkEntry.queries(k)(spark, sf)
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      case Array("jobs", k) =>
        // per-stage breakdown of one query: warm run first, then an
        // instrumented run that prints every stage's wall time, task-time
        // sum, task count and shuffle bytes — the UI-less stand-in for
        // the Stages tab (guide §7.1)
        graft.ops.Q.withCached(SparkEntry.queries(k)(spark, sf))(_.count())
        spark.catalog.clearCache()
        t = tick("warm run", t)
        val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = sc.stageInfo
            val wall = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L))
            val m = si.taskMetrics
            stages.add(f"[stage ${si.stageId}%4d] wall=${wall}%5d ms tasks=${si.numTasks}%3d " +
              f"taskTime=${m.executorRunTime}%6d ms shufW=${m.shuffleWriteMetrics.bytesWritten / 1024}%7d KB " +
              f"shufR=${m.shuffleReadMetrics.totalBytesRead / 1024}%7d KB in=${m.inputMetrics.bytesRead / 1024}%7d KB " +
              si.name.take(90))
          }
        }
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        graft.ops.Q.withCached(SparkEntry.queries(k)(spark, sf))(_.count())
        println(f"[probe] instrumented run: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        spark.sparkContext.removeSparkListener(listener)
        Thread.sleep(300) // let the listener bus drain
        stages.forEach(s => println(s))
        spark.catalog.clearCache()
      case _ =>
        val df = SparkEntry.queries(key)(spark, sf)
        t = tick("build", t)
        println("[probe] rows: " + df.count())
        t = tick("first run", t)
        SparkEntry.queries(key)(spark, sf).count()
        t = tick("second run", t)
        df.explain("formatted")
    }
    spark.stop()
  }
}
