package perfbench

import org.apache.spark.{PerfbenchBus, Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Minimal JSON writer for the raw run record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => quote(s)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** In-memory spans: (op id, name, start ns, end ns, parent index). Spans of
  * one query or batch share the op id; the parent is the enclosing span on
  * the same thread. Disabled tracers run the body and record nothing.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Seq[Any]]
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  @volatile var overheadNs = 0L

  def span[A](op: Long, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val parent = stack.get.headOption.getOrElse(-1)
      val idx = synchronized { spans += Nil; spans.size - 1 }
      stack.set(idx :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized { spans(idx) = Seq(op, name, t0, t1, parent) }
      }
    }

  /** Runs tracing-only bookkeeping and books its time as overhead. */
  def overhead[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally overheadNs += System.nanoTime() - t0
  }

  def all: Seq[Seq[Any]] = synchronized { spans.toList }
}

/** Per-tag Spark execution counters. */
final class Counters {
  var jobs, stages, tasks, taskFailures = 0L
  var cpuNs, shuffleRead, shuffleWrite, spill, bytesWritten = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskFailures += o.taskFailures; cpuNs += o.cpuNs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; bytesWritten += o.bytesWritten
  }
}

/** Attributes jobs, stages and tasks to the tag that submitted them: the
  * `perfbench.tag` local property when set, else the job group. Also tracks
  * cached RDD block storage (current, peak, blocks ever cached).
  */
final class ExecListener extends SparkListener {
  import ExecListener.TagKey
  private val byTag = mutable.LinkedHashMap.empty[String, Counters]
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var storage = 0L
  var storagePeak = 0L
  var blocksCached = 0L

  private def counters(tag: String): Counters =
    byTag.getOrElseUpdate(tag, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val tag = props.flatMap(p => Option(p.getProperty(TagKey)))
      .orElse(props.flatMap(p => Option(p.getProperty(SparkContextGroupKey))))
      .getOrElse("untagged")
    counters(tag).jobs += 1
    e.stageIds.foreach(s => if (!stageTag.contains(s)) stageTag(s) = tag)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      counters(stageTag.getOrElse(e.stageInfo.stageId, "untagged")).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageTag.getOrElse(e.stageId, "untagged"))
    c.tasks += 1
    if (e.reason != TaskSuccess) c.taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = info.blockId.name
        storage -= blocks.remove(key).getOrElse(0L)
        if (info.storageLevel.isValid) {
          val size = info.memSize + info.diskSize
          blocks(key) = size
          storage += size
          blocksCached += 1
          storagePeak = math.max(storagePeak, storage)
        }
      }
    }

  /** Sum of the counters of every tag accepted by `p`. */
  def total(p: String => Boolean): Counters = synchronized {
    val c = new Counters
    byTag.foreach { case (t, x) => if (p(t)) c += x }
    c
  }

  private val SparkContextGroupKey = "spark.jobGroup.id"
}

object ExecListener {
  val TagKey = "perfbench.tag"
}

/** Shared run context: session, tracer, listener and the raw record. */
final class Run(val spark: SparkSession, val traced: Boolean) {
  val tracer = new Tracer(traced)
  val exec: Option[ExecListener] =
    if (traced) {
      val l = new ExecListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
  val record = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Any]

  /** Tags the jobs `body` submits on this thread. */
  def tagged[A](tag: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(ExecListener.TagKey)
    sc.setLocalProperty(ExecListener.TagKey, tag)
    try body finally sc.setLocalProperty(ExecListener.TagKey, prev)
  }

  /** Counters of the tags `p` accepts, after draining the listener bus. */
  def counters(p: String => Boolean): Counters =
    exec.map { l => PerfbenchBus.drain(spark.sparkContext); l.total(p) }
      .getOrElse(new Counters)
}

object Harness {
  def session(cpus: Int, sizingDir: String, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions",
        graft.SessionTuning.shufflePartitions(sizingDir, cpus))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Heap still in use after a full collection, in MB: what the run
    * left live (caches, memos, session state).
    */
  def heapRetainedMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      .getUsed / 1048576.0
  }

  /** Process high-water resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Args: --workload W --seed N --seconds S --trace 0|1 --cpus C
    * --data DIR --work DIR --out FILE [--check FILE] [--fail-query NAME]
    * [--only a,b]. Writes the raw record as JSON to --out. `--workload
    * prepare --surface 0|1 --verify DIR` writes the expected outputs
    * instead (see `QuerySurface.prepare`).
    */
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val run = (data: String, work: String) => {
      val traced = args.getOrElse("trace", "0") == "1"
      val spark = session(args("cpus").toInt, data, work)
      new Run(spark, traced)
    }
    val data = args("data")
    val work = args("work")
    if (workload == "prepare") {
      QuerySurface.prepare(data, args("verify"), args.get("surface").contains("1"),
        args("cpus").toInt, work, args("out"))
      return
    }
    val seed = args.getOrElse("seed", "1").toLong
    val seconds = args.getOrElse("seconds", "10").toDouble
    val t0 = System.nanoTime()
    val r = run(data, work)
    r.record("session_s") = secondsSince(t0)
    r.record("cpus") = args("cpus").toInt
    try {
      workload match {
        case "query_surface" =>
          QuerySurface.timed(r, data, seconds, args("check"),
            args.get("fail-query"), args.get("only").map(_.split(",").toSeq))
        case "live_ticks" => Streams.live(r, work, seed, seconds)
        case other => sys.error(s"unknown workload $other")
      }
      r.record("peak_rss_mb") = peakRssMb()
      r.record("heap_retained_mb") = heapRetainedMb()
      r.record("trace_overhead_ms") = r.tracer.overheadNs / 1e6
      if (r.traced) {
        r.record("spans") = r.tracer.all
        r.record("layers") = r.layers
      }
    } finally {
      val w = new java.io.PrintWriter(args("out"), "UTF-8")
      try w.println(Json(r.record)) finally w.close()
      r.spark.stop()
    }
  }
}
