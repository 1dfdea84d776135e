package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Timed passes over the named `SparkEntry.queries`, in the order given.
  *
  * {{{
  * Suite <sfDir> <cpus> <traceFile or -> <rateRun,...> <query>...
  * }}}
  *
  * The session is built the way `graft.Bench` builds it. A first, untimed
  * pass warms it up (code generation, JIT, parquet footers); then two timed
  * passes run. Each query is forced with Bench's checksum (xxhash64 of every
  * column, bit_xor over rows) plus a row count, so Catalyst cannot prune the
  * work being timed. Protocol on stdout, one line each: `PB events <rows>`
  * (the input size of the JMESPath queries) and `PB ready` after the
  * warm-up, then per query `PB q <name> <seconds> <rows> <checksum>` or
  * `PB fail <name> <message>`, `PB pass` between timed passes, then
  * `PB done`. With a trace file, a traced pass runs between the two timed
  * passes, after `PB traced`: the benchmark's listeners are registered on
  * the session for it and removed again before the second timed pass, so
  * each untraced pass sits on one side of it. Its spans are written to the
  * file. After the passes, `PB rate` introduces the rate runs: the
  * queries of the comma-separated list, in its order, timed apart from the
  * passes for a steadier throughput figure. The process then waits for
  * stdin to close, so its peak memory can be read from outside before it
  * exits.
  */
object Suite {
  def force(df: DataFrame): (Long, Long) = {
    val cols = df.columns.map(col)
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Returns once the listener bus has delivered every event posted so far
    * to the listeners of its shared queue, where user listeners and the
    * query-execution listeners live: the queue delivers in order, so a
    * marker job's end arrives after all of them. */
  def drainListeners(spark: SparkSession): Unit = {
    val description = "perfbench-drain"
    val sc = spark.sparkContext
    val done = new CountDownLatch(1)
    val marker = new SparkListener {
      @volatile private var job = -1
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == description))
          job = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (e.jobId == job) done.countDown()
    }
    sc.addSparkListener(marker)
    sc.setJobDescription(description)
    sc.parallelize(Seq(1), 1).count()
    done.await(60, TimeUnit.SECONDS)
    sc.removeSparkListener(marker)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, cpus, traceFile, rateRuns) = args.take(4)
    val order = args.drop(4).toSeq
    val spark = graft.SessionTuning(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def lowerFor(n: String): Unit =
      spark.conf.set(graft.compile.LowerJmesPathRule.LowerConfKey,
        (!graft.SparkEntry.interpretedQueries(n)).toString)
    def run(n: String): (Long, Long) = {
      lowerFor(n)
      spark.sparkContext.setJobDescription(s"perfbench:$n")
      force(graft.SparkEntry.queries(n)(spark, sfDir))
    }

    def timedPass(spans: Boolean, queries: Seq[String] = order): Unit = queries.foreach { n =>
      val t0 = Trace.nowUs()
      try {
        val (rows, sum) = run(n)
        val t1 = Trace.nowUs()
        if (spans) Trace.add(s"suite:$n", 0L, s"query:$n", "ext", t0, t1, "rows" -> rows)
        println(f"PB q $n ${(t1 - t0) / 1e6}%.6f $rows $sum")
      } catch { case e: Throwable =>
        println(s"PB fail $n ${String.valueOf(e.getMessage).replaceAll("\\s+", " ").take(300)}")
      }
    }

    order.foreach(n => try run(n) catch { case _: Throwable => () })
    // the warm-up has set the session's parquet options the test data needs
    println(s"PB events ${spark.read.parquet(s"$sfDir/events.parquet").count()}")
    println("PB ready")
    timedPass(spans = false)
    if (traceFile != "-") {
      val jobs = new TraceSparkListener
      val plans = new TraceQeListener
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(plans)
      println("PB traced")
      timedPass(spans = true)
      drainListeners(spark)
      spark.sparkContext.removeSparkListener(jobs)
      spark.listenerManager.unregister(plans)
      Trace.dump(traceFile)
    }
    println("PB pass")
    timedPass(spans = false)
    println("PB rate")
    timedPass(spans = false, rateRuns.split(",").toSeq)
    spark.stop()
    println("PB done")
    System.out.flush()
    while (System.in.read() >= 0) ()
  }
}
