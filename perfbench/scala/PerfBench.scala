package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry}
import graft.sources.kafkashape.KafkaShapedSink

/** JVM side of the benchmark. Runs one workload against the engine through
  * its public entry points and records raw observations as JSON lines under
  * `out=`; `perfbench/run.py` turns them into metrics and checks outputs.
  *
  * Arguments are `key=value` pairs:
  *  - `mode=ws`: `url= key= topic= partitions= sink= checkpoint= expect=
  *    timeout_s=` — starts `format("websocket")` → `KafkaShapedSink.start`
  *    and stops once the source has committed `expect` frames.
  *  - `mode=gates`: `data= queries=a,b,… reps= seconds= results=` — runs
  *    each gate's `SparkEntry.queries` function and its noop write in the
  *    given order: one untimed warm-up pass that writes each result as
  *    parquet under `results=` for the oracle check, then timed passes
  *    until `seconds` have elapsed (at least one), each gate `reps` times
  *    back to back.
  *  - `work=` holds the warehouse and Spark's local dirs; `trace=1` adds
  *    the listeners and spans of the per-layer profile.
  */
object PerfBench {
  def main(args: Array[String]): Unit = {
    val opts = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val out = new File(opts("out"))
    out.mkdirs()
    val work = new File(opts("work"))
    val spark = GraftSession.builder("local[4]", 4)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rec = new Recorder(opts.get("trace").contains("1"))
    rec.attach(spark, progress = opts("mode") == "ws" || rec.trace)
    try opts("mode") match {
      case "ws" => runWs(spark, opts, rec)
      case "gates" => runGates(spark, opts, rec)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    } finally {
      rec.write(out)
      spark.stop()
    }
  }

  private def runWs(spark: SparkSession, opts: Map[String, String], rec: Recorder): Unit = {
    val expect = opts("expect").toLong
    val df = spark.readStream.format("websocket")
      .option("url", opts("url")).option("key", opts("key")).load()
    val q = rec.span("sink", "kafkashape", "start") {
      KafkaShapedSink.start(df, opts("sink"), opts("checkpoint"),
        Some(opts("topic")), opts("partitions").toInt)
    }
    val deadline = System.nanoTime() + opts("timeout_s").toLong * 1000000000L
    def committed: Long = Option(q.lastProgress).flatMap(_.sources.headOption)
      .map(s => s.endOffset.toLong).getOrElse(0L)
    while (committed < expect && q.isActive && System.nanoTime() < deadline)
      Thread.sleep(20)
    rec.mark("ws_committed", committed.toString)
    q.stop()
    q.exception.foreach(e => rec.mark("ws_error", e.getMessage))
    rec.awaitProgress(q.lastProgress)
  }

  private def runGates(spark: SparkSession, opts: Map[String, String], rec: Recorder): Unit = {
    val dir = opts("data")
    val all = SparkEntry.queries
    val order = opts("queries").split(",").toSeq
    val seconds = opts("seconds").toDouble
    val resultsDir = opts("results")

    def materialize(id: String, name: String): DataFrame = {
      val df = rec.span(id, "queries", "build")(all(name)(spark, dir))
      if (rec.trace) rec.span(id, "session", "plan")(df.queryExecution.executedPlan)
      rec.span(id, "exec", "write")(df.write.format("noop").mode("overwrite").save())
      df
    }

    // Untimed warm-up pass in the same order; its results go to the oracle
    // check.
    order.foreach { name =>
      try {
        val df = materialize(s"warmup:$name", name)
        rec.pause()
        try df.coalesce(1).write.mode("overwrite").parquet(s"$resultsDir/$name")
        finally rec.resume()
      } catch { case e: Throwable =>
        rec.query(name, -1, 0, 0.0, Option(e.getMessage).getOrElse(e.getClass.getName))
      }
      dropSweepState(spark)
    }

    rec.mark("timed_start", System.currentTimeMillis().toString)
    val reps = opts("reps").toInt
    val t0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      for (name <- order; rep <- 0 until reps) {
        val start = System.nanoTime()
        val error =
          try { materialize(s"q:$name:$pass.$rep", name); null }
          catch { case e: Throwable => Option(e.getMessage).getOrElse(e.getClass.getName) }
        rec.query(name, pass, rep, (System.nanoTime() - start) / 1e9, error)
        dropSweepState(spark)
      }
      pass += 1
    }
    rec.mark("timed_end", System.currentTimeMillis().toString)
    val oracles = SparkEntry.oracleSql
    Files.writeString(Paths.get(resultsDir, "oracle_sql.json"),
      order.filter(oracles.contains).map(n => s"${Json.str(n)}:${Json.str(oracles(n))}")
        .mkString("{", ",", "}"), UTF_8)
  }

  /** Release the blocks a query left behind outside the timed section, as
    * graft.Bench does between reps, so one gate's checkpoints cannot slow
    * the next. */
  private def dropSweepState(spark: SparkSession): Unit = {
    val keep = graft.operators.IvfAnn.protectedRddIds(spark)
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => keep.contains(id) }
      .values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) =>
    val js = v match {
      case null => "null"
      case s: String => str(s)
      case b: Boolean => b.toString
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case n => n.toString
    }
    s"${str(k)}:$js"
  }.mkString("{", ",", "}")
}

/** Keeps every observation in memory and writes it out when the run ends.
  * Spans share an id per gate run (`q:<name>:<pass>.<rep>`) or per
  * component; Spark jobs are tied to the span that submitted them through a
  * local property, so tasks attribute exactly even though listener events
  * arrive late. */
class Recorder(val trace: Boolean) {
  private val lines = new ConcurrentLinkedQueue[String]()
  private val progressSeen = new AtomicLong(-1L)
  private val jobsStarted = new AtomicLong(0L)
  private val jobsDone = new AtomicLong(0L)
  @volatile private var spark: SparkSession = _
  @volatile private var sampling = true

  private def emit(kind: String, kv: (String, Any)*): Unit =
    lines.add(Json.obj((("kind" -> kind) +: kv): _*))

  def mark(name: String, value: String): Unit = emit("mark", "name" -> name, "value" -> value)

  def query(name: String, pass: Int, rep: Int, seconds: Double, error: String): Unit =
    emit("query", "name" -> name, "pass" -> pass, "rep" -> rep, "s" -> seconds, "error" -> error)

  /** Untimed work (result dumps for the oracle check) is kept out of the
    * exec profile. */
  def pause(): Unit = setSpan("untimed")
  def resume(): Unit = setSpan(null)

  private def setSpan(id: String): Unit =
    if (spark != null) spark.sparkContext.setLocalProperty("perfbench.span", id)

  def span[T](id: String, layer: String, phase: String)(body: => T): T = {
    val startMs = System.currentTimeMillis()
    val t = System.nanoTime()
    if (trace) setSpan(s"$id|$phase")
    try body
    finally {
      val ns = System.nanoTime() - t
      if (trace) {
        setSpan(null)
        emit("span", "id" -> id, "layer" -> layer, "phase" -> phase,
          "start_ms" -> startMs, "dur_ms" -> ns / 1e6)
      }
    }
  }

  def attach(s: SparkSession, progress: Boolean): Unit = {
    spark = s
    if (progress) s.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        lines.add(s"""{"kind":"progress","p":${e.progress.json}}""")
        progressSeen.set(e.progress.batchId)
      }
    })
    if (!trace) return
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobsStarted.incrementAndGet()
        val span = Option(e.properties).map(_.getProperty("perfbench.span")).orNull
        emit("job", "job" -> e.jobId, "t" -> e.time, "span" -> span,
          "stages" -> e.stageIds.mkString(","))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobsDone.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        emit("stage", "stage" -> e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m == null) return
        val sr = m.shuffleReadMetrics
        emit("task", "stage" -> e.stageId, "run_ms" -> m.executorRunTime,
          "deser_ms" -> m.executorDeserializeTime, "sw_b" -> m.shuffleWriteMetrics.bytesWritten,
          "sr_b" -> (sr.remoteBytesRead + sr.localBytesRead), "fetch_ms" -> sr.fetchWaitTime,
          "spill_b" -> m.diskBytesSpilled, "in_b" -> m.inputMetrics.bytesRead,
          "out_rec" -> m.outputMetrics.recordsWritten, "out_b" -> m.outputMetrics.bytesWritten)
      }
    })
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val j = Joins.count(qe.executedPlan)
        emit("plan", "func" -> funcName, "root" -> qe.executedPlan.nodeName,
          "t" -> System.currentTimeMillis(), "smj" -> j._1, "shj" -> j._2, "bhj" -> j._3)
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val sampler = new Thread(() => {
      while (sampling) {
        emit("gc", "t" -> System.currentTimeMillis(), "gc_ms" -> gc.map(_.getCollectionTime).sum)
        try Thread.sleep(100) catch { case _: InterruptedException => () }
      }
    }, "perfbench-gc-sampler")
    sampler.setDaemon(true)
    sampler.start()
  }

  /** Progress events arrive on the listener bus after the batch; wait for
    * the last one so the record holds every batch. */
  def awaitProgress(last: StreamingQueryProgress): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    if (last != null)
      while (progressSeen.get() < last.batchId && System.nanoTime() < deadline) Thread.sleep(10)
  }

  private def peakRssKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    catch { case _: Throwable => -1L }

  def write(out: File): Unit = {
    sampling = false
    val deadline = System.nanoTime() + 10000000000L
    while (trace && jobsDone.get() < jobsStarted.get() && System.nanoTime() < deadline)
      Thread.sleep(10)
    if (trace) Thread.sleep(200) // trailing task/stage events of the last job
    emit("mark", "name" -> "peak_rss_kb", "value" -> peakRssKb().toString)
    val w = new PrintWriter(new File(out, "events.jsonl"), UTF_8)
    try lines.asScala.foreach(w.println) finally w.close()
  }
}

/** Join strategies in a plan, counted through adaptive query stages (the
  * final plan once the query has run). */
object Joins extends AdaptiveSparkPlanHelper {
  def count(plan: SparkPlan): (Int, Int, Int) = {
    val kinds = collectWithSubqueries(plan) {
      case _: SortMergeJoinExec => 0
      case _: ShuffledHashJoinExec => 1
      case _: BroadcastHashJoinExec => 2
    }
    (kinds.count(_ == 0), kinds.count(_ == 1), kinds.count(_ == 2))
  }
}
