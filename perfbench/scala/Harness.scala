package perfbench

import java.lang.management.{BufferPoolMXBean, ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.graftshim.GraftCore
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.runtime.{Checkpoint, Observed, Sessions}

/** One workload of the benchmark, run by one closed-loop client in one JVM.
  *
  * The driver thread issues the next public call only after the previous one
  * returns. Every call is timed from outside the program; nothing inside the
  * program is instrumented. The harness writes raw records (JSON lines) to
  * `--out`; `perfbench/run.py` turns them into metrics and checks.
  *
  * Records: `env`, `setup`, `warmup` (one per warm-up iteration), `iter`
  * (one per measured iteration, with its host stamp), `pass` (the timed
  * pass of an iteration), `call` (one per timed public call; `op` marks
  * the calls of the op mix), `build` (one per construction, with its stage
  * laps), `stage` (checkpoint manifests and sizes), `count` (exact counts),
  * `check` (output checks), `mem` and, with `--trace 1`, `span`, `job` and
  * `task` from a SparkListener plus job groups.
  */
object Harness {

  final case class Opts(workload: String, seed: Long, iterations: Int, trace: Boolean,
                        out: String, work: String, data: String, files: Long,
                        warmups: Int)

  // appended by the driver thread and, in a traced run, the listener bus
  private val records = ArrayBuffer.empty[String]
  private def record(line: String): Unit = records.synchronized(records += line)
  def emit(kind: String, fields: (String, Any)*): Unit =
    record(Json.obj(("ev" -> kind) +: fields))

  // wall clock in epoch ms with nanoTime resolution, comparable with the
  // epoch-ms times Spark stamps on job and task events
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private var tracer: Tracer = null
  var tracing = false
  private var runId = ""
  private val spanStack = ArrayBuffer.empty[String]
  private var spanSeq = 0L

  /** Time `body` as one span; with tracing on, its Spark jobs carry the
    * span's name as their job group, and the span is recorded.
    */
  def span[T](spark: SparkSession, name: String)(body: => T): (T, Double, Double) = {
    spanSeq += 1
    val id = s"$name#$spanSeq"
    val parent = spanStack.lastOption.orNull
    val sc = spark.sparkContext
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    if (tracing) sc.setJobGroup(id, name)
    spanStack += id
    val t0 = nowMs
    try {
      val r = body
      val t1 = nowMs
      if (tracing) emit("span", "id" -> id, "name" -> name, "start" -> t0, "end" -> t1,
        "parent" -> parent, "run" -> runId)
      (r, t0, t1)
    } finally {
      spanStack.remove(spanStack.length - 1)
      if (tracing) {
        if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevGroup)
      }
    }
  }

  /** A timed public call; `op` marks a call of the workload's op mix. */
  def call[T](spark: SparkSession, iter: Int, name: String, op: Boolean = true)(body: => T): T =
    timedCall(spark, iter, name, op)(body)._1

  /** [[call]], also returning the call's start and end (epoch ms). */
  def timedCall[T](spark: SparkSession, iter: Int, name: String, op: Boolean = true)
      (body: => T): (T, Double, Double) = {
    val (r, t0, t1) = span(spark, name)(body)
    emit("call", "iter" -> iter, "name" -> name, "ms" -> (t1 - t0), "start" -> t0, "op" -> op)
    (r, t0, t1)
  }

  /** The timed pass of an iteration: the part a user waits for between
    * asking and having the answers.
    */
  def pass[T](spark: SparkSession, iter: Int)(body: => T): T = {
    val (r, t0, t1) = span(spark, "pass")(body)
    emit("pass", "iter" -> iter, "s" -> (t1 - t0) / 1e3)
    r
  }

  def check(iter: Int, name: String, ok: Boolean, detail: String): Unit =
    emit("check", "iter" -> iter, "name" -> name, "ok" -> ok, "detail" -> detail)

  def count(iter: Int, name: String, value: Double): Unit =
    emit("count", "iter" -> iter, "name" -> name, "value" -> value)

  private def procStatCpu(): String =
    Files.readAllLines(Paths.get("/proc/stat")).asScala.find(_.startsWith("cpu ")).getOrElse("")

  /** Fixed single-thread calibration probe: the same integer work every
    * time, so its wall time tracks how fast the host runs this JVM now.
    */
  def calibrationMs(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var acc = 0L
    var i = 0
    while (i < 20000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 1023
      i += 1
    }
    if (acc == 42) System.err.print("")
    (System.nanoTime() - t0) / 1e6
  }

  /** One loop iteration, as the parent span of its calls, with its host
    * stamp: /proc/stat cpu lines before and after, and the calibration
    * probe taken just before.
    */
  def iteration(spark: SparkSession, iter: Int)(body: => Unit): Unit = {
    val cal = calibrationMs()
    val stat0 = procStatCpu()
    val (_, t0, t1) = span(spark, "iteration")(body)
    emit("iter", "iter" -> iter, "start" -> t0, "s" -> (t1 - t0) / 1e3, "cal_ms" -> cal,
      "stat0" -> stat0, "stat1" -> procStatCpu(), "traced" -> tracing)
  }

  def newSession(o: Opts): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val parts = Sessions.shufflePartitionsFor(4, o.files)
    val b = SparkSession.builder().master("local[4]")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
    val spark = Sessions.configure(b, parts).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Observed.install(spark)
    if (tracing) spark.sparkContext.addSparkListener(tracer)
    spark
  }

  /** Tracing on or off for the iterations that follow (the traced run
    * alternates, so it also measures the tracer's own overhead).
    */
  def setTracing(spark: SparkSession, on: Boolean): Unit = {
    if (tracer == null) return
    val sc = spark.sparkContext
    if (on && !tracing) sc.addSparkListener(tracer)
    if (!on && tracing) sc.removeSparkListener(tracer)
    tracing = on
  }

  def drain(spark: SparkSession): Unit =
    GraftCore.drainListenerBus(spark.sparkContext, 30000)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("iterations").toInt,
      kv("trace") == "1", kv("out"), kv("work"), kv.getOrElse("data", ""),
      kv("files").toLong, kv("warmups").toInt)
    runId = s"${o.workload}-${o.seed}-${System.currentTimeMillis()}"
    MemPeak.install()
    if (o.trace) tracer = new Tracer(record)
    tracing = o.trace
    emit("env", "workload" -> o.workload, "seed" -> o.seed, "nproc" ->
      Runtime.getRuntime.availableProcessors(), "heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
      "parts" -> Sessions.shufflePartitionsFor(4, o.files), "files" -> o.files,
      "iterations" -> o.iterations, "run" -> runId)
    val spark = o.workload match {
      case "kg_build" => KgBuild.run(o)
      case "kg_store_query" => StoreQuery.run(o)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (tracer != null) drain(spark)
    emit("mem", "peak_mb" -> MemPeak.peakMb, "gcs" -> MemPeak.collections)
    spark.stop()
    val w = Files.newBufferedWriter(Paths.get(o.out))
    try records.synchronized(records.foreach { r => w.write(r); w.write('\n') })
    finally w.close()
  }

  // ---- shared pieces of the construction workloads -------------------

  /** Precision and recall of a collected triple set against the closed form. */
  def scoreTriples(iter: Int, label: String, got: Set[(String, String, String)],
                   expected: Set[(String, String, String)]): Unit = {
    val hit = got.count(expected.contains).toDouble
    val p = if (got.isEmpty) 0.0 else hit / got.size
    val r = if (expected.isEmpty) 0.0 else hit / expected.size
    count(iter, "triple_precision", p)
    count(iter, "triple_recall", r)
    check(iter, s"$label.closed_form_pr", p >= 0.95 && r >= 0.95, f"P=$p%.6f R=$r%.6f")
  }

  def collectTriples(df: DataFrame): Set[(String, String, String)] =
    df.select("subjName", "relType", "objName").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  private def observed(name: String, key: String): Long =
    Observed.snapshot().get(name).flatMap(_.get(key)).getOrElse(0L)

  /** Runs one construction and counts the key rows the linker's block cap
    * dropped during it (a diff of the process-wide counters) and the
    * connected-components rounds it took.
    */
  def linkCounted[T](spark: SparkSession, iter: Int)(body: => T): T = {
    drain(spark)
    Observed.clear("cc_iterations")
    val dropped0 = observed("linker_block_cap", "dropped")
    val r = body
    drain(spark)
    val dropped = observed("linker_block_cap", "dropped") - dropped0
    count(iter, "link.block_cap_dropped", dropped.toDouble)
    count(iter, "link.cc_rounds", observed("cc_iterations", "rounds").toDouble)
    r
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) Checkpoint.deleteRecursively(p)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

/** Peak memory the program holds, as the JVM reports it: the most heap in
  * use right after a garbage collection (live data plus what the collection
  * left), with the direct and mapped buffers at that moment, over the whole
  * run, plus the peak of the non-heap pools (class metadata, compiled code).
  * Unlike the process's resident set, it does not read the fixed heap size.
  */
object MemPeak {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private var maxAfterGc = 0L
  private var gcs = 0L

  private def buffersUsed(): Long =
    ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala.map(_.getMemoryUsed).sum

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val heap = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        val total = heap + buffersUsed()
        MemPeak.synchronized { maxAfterGc = math.max(maxAfterGc, total); gcs += 1 }
      }
  }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def collections: Long = synchronized(gcs)

  def peakMb: Double = {
    val nonHeap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.NON_HEAP).map(_.getPeakUsage.getUsed).sum
    (synchronized(maxAfterGc) + nonHeap) / 1048576.0
  }
}

/** Collects job and task records for the traced run. */
final class Tracer(sink: String => Unit) extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    sink(Json.obj(Seq("ev" -> "job", "job" -> e.jobId, "group" -> group, "start" -> e.time.toDouble,
      "stages" -> e.stageIds)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    val ok = e.reason == org.apache.spark.Success
    val f = Seq("ev" -> "task", "stage" -> e.stageId, "start" -> i.launchTime.toDouble,
      "end" -> i.finishTime.toDouble, "ok" -> ok)
    val metrics = if (m == null) Nil else Seq(
      "cpu_ns" -> m.executorCpuTime, "run_ms" -> m.executorRunTime, "gc_ms" -> m.jvmGCTime,
      "sr" -> (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead),
      "sw" -> m.shuffleWriteMetrics.bytesWritten,
      "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
      "peak" -> m.peakExecutionMemory)
    sink(Json.obj(f ++ metrics))
  }
}

object Json {
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")
  def quote(s: String): String = "\"" + Checkpoint.jsonEscape(s) + "\""
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}
