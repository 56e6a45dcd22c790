package perfbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.lake.{GraftCatalog, LocalMetaIO, MetaIO}

/** One recorded interval. Times are epoch microseconds, so spans from the
  * client thread (nanoTime-based) and from Spark's listener events
  * (epoch-millisecond based) share one clock. `op` is the client op the
  * span belongs to (-1: outside any op). */
final case class Span(name: String, layer: String, op: Int,
    startUs: Long, endUs: Long)

/** The benchmark's tracer. Everything is recorded from outside graft:
  * spans around the client's calls into graft's public entry points, a
  * counting [[MetaIO]] behind a [[GraftCatalog]] subclass, and Spark's
  * public listener APIs. Spans and counters stay in memory until the run
  * ends. With tracing off nothing here is installed and `span` is a plain
  * call. */
object Trace {
  @volatile var enabled = false

  /** Op in flight on the single client thread (-1: none). MetaIO and
    * catalog calls made by pool threads during the op belong to it too:
    * with one client, whatever runs inside the op's window is the op's. */
  @volatile var currentOp: Int = -1

  val OpProperty = "perfbench.op"

  private val base = (System.currentTimeMillis() * 1000L, System.nanoTime())
  def nowUs(): Long = base._1 + (System.nanoTime() - base._2) / 1000L

  val spans = new ConcurrentLinkedQueue[Span]()

  private val counters = new java.util.concurrent.ConcurrentHashMap[
    (Int, String), java.util.concurrent.atomic.DoubleAdder]()

  def add(op: Int, key: String, v: Double): Unit =
    counters.computeIfAbsent((op, key),
      _ => new java.util.concurrent.atomic.DoubleAdder()).add(v)

  /** Counter `key` of op `op` (0 when never touched). */
  def counter(op: Int, key: String): Double =
    Option(counters.get((op, key))).map(_.sum()).getOrElse(0.0)

  /** Time `f` as a span of `layer` under the current op. */
  def span[T](name: String, layer: String)(f: => T): T =
    if (!enabled) f
    else {
      val op = currentOp
      val t0 = nowUs()
      try f finally spans.add(Span(name, layer, op, t0, nowUs()))
    }

  def beginOp(spark: SparkSession, id: Int): Unit = if (enabled) {
    currentOp = id
    spark.sparkContext.setLocalProperty(OpProperty, id.toString)
  }

  def endOp(spark: SparkSession): Unit = if (enabled) {
    currentOp = -1
    spark.sparkContext.setLocalProperty(OpProperty, null)
  }

  /** Install the Spark-side listeners on a fresh session. */
  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new JobListener)
    spark.listenerManager.register(new PlanListener)
  }

  /** Listener events arrive asynchronously: wait until no new job, stage
    * or query event has arrived for a quiet period before reading. */
  def drain(): Unit = if (enabled) {
    var last = -1L
    var stable = 0
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (stable < 4 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = JobListener.events.get() + PlanListener.events.get()
      if (now == last && JobListener.openJobs.isEmpty) stable += 1
      else stable = 0
      last = now
    }
  }

  /** Union length of `intervals` clipped to [lo, hi] (microseconds). */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val sorted = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    sorted.foreach { case (a, b) =>
      if (a > ce) {
        if (ce > cs) total += ce - cs
        cs = a; ce = b
      } else ce = math.max(ce, b)
    }
    if (ce > cs) total += ce - cs
    total
  }

  def writeSpans(path: Path): Unit = {
    val sb = new StringBuilder
    spans.asScala.toSeq.sortBy(_.startUs).foreach { s =>
      sb ++= s"""{"name":${Json.str(s.name)},"layer":"${s.layer}","op":${s.op},""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs}}""" + "\n"
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Jobs, stages and tasks per op, from the public SparkListener API. A
  * job joins the op named by the local property the client set; its
  * stages and tasks follow the job. */
final class JobListener extends SparkListener {
  private val jobOp = mutable.Map.empty[Int, (Int, Long, String)]
  private val stageOp = mutable.Map.empty[Int, Int]

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Trace.OpProperty)))
      .map(_.toInt).getOrElse(Trace.currentOp)

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    JobListener.events.incrementAndGet()
    val op = opOf(j.properties)
    val desc = Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobOp(j.jobId) = (op, j.time, desc)
    JobListener.openJobs.add(j.jobId)
    j.stageIds.foreach(s => stageOp(s) = op)
    Trace.add(op, "sched.jobs", 1)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    JobListener.events.incrementAndGet()
    JobListener.openJobs.remove(j.jobId)
    jobOp.remove(j.jobId).foreach { case (op, t0, desc) =>
      Trace.spans.add(Span(if (desc.isEmpty) "job" else desc, "spark.job", op,
        t0 * 1000L, j.time * 1000L))
      if (desc.nonEmpty) Trace.add(op, s"step.$desc.ms", (j.time - t0).toDouble)
    }
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    synchronized {
      JobListener.events.incrementAndGet()
      val op = stageOp.getOrElse(s.stageInfo.stageId, Trace.currentOp)
      Trace.add(op, "sched.stages", 1)
    }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    JobListener.events.incrementAndGet()
    val op = stageOp.getOrElse(t.stageId, Trace.currentOp)
    Trace.add(op, "sched.tasks", 1)
    val m = t.taskMetrics
    if (m != null) {
      Trace.add(op, "exec.task_ms", m.executorRunTime.toDouble)
      Trace.add(op, "exec.cpu_ms", m.executorCpuTime / 1e6)
      Trace.add(op, "exec.gc_ms", m.jvmGCTime.toDouble)
      Trace.add(op, "exec.shuffle_bytes",
        (m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten).toDouble)
      Trace.add(op, "exec.spill_bytes",
        (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      Trace.add(op, "exec.records_read", m.inputMetrics.recordsRead.toDouble)
      Trace.add(op, "exec.bytes_written", m.outputMetrics.bytesWritten.toDouble)
    }
  }
}

object JobListener {
  val events = new java.util.concurrent.atomic.AtomicLong()
  val openJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
}

/** Catalyst phase times and scan file counts per query, from the public
  * QueryExecutionListener API. The callback carries no local properties,
  * so the query joins the op whose window contains its analysis start. */
final class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = PlanListener.record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = PlanListener.record(qe)
}

object PlanListener {
  val events = new java.util.concurrent.atomic.AtomicLong()

  /** (analysis start epoch ms, phase → ms, files read by scans). */
  val queries = new ConcurrentLinkedQueue[(Long, Map[String, Long], Long)]()

  def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val start = phases.get("analysis").map(_.startTimeMs)
      .getOrElse(System.currentTimeMillis())
    val files = scala.util.Try(filesRead(qe.executedPlan)).getOrElse(0L)
    queries.add((start, phases.map { case (k, v) => k -> v.durationMs }, files))
    events.incrementAndGet()
  }

  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case other => other.children ++ other.subqueries
  }

  /** Data files the query's scans read: a graft file partition is one
    * file; Spark file partitions and V1 scans report their own counts. */
  def filesRead(plan: SparkPlan): Long = {
    val own = plan match {
      case b: BatchScanExec => b.inputPartitions.map {
        case f: FilePartition => f.files.length.toLong
        case k: org.apache.spark.sql.graftbridge.KeyedFilePartition =>
          k.delegate.files.length.toLong
        case _ => 1L
      }.sum
      case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case _ => 0L
    }
    own + children(plan).map(filesRead).sum
  }
}

/** [[MetaIO]] that counts and times every call by kind, into the op in
  * flight: the lake's metadata plane as graft's own commit and scan code
  * drives it. */
object CountingMetaIO extends MetaIO {
  private val inner: MetaIO = LocalMetaIO

  private def io[T](kind: String, bytes: Long = 0L)(f: => T): T = {
    val op = Trace.currentOp
    val t0 = Trace.nowUs()
    try f finally {
      val t1 = Trace.nowUs()
      Trace.spans.add(Span(kind, "lake.metaio", op, t0, t1))
      Trace.add(op, s"metaio.calls.$kind", 1)
      Trace.add(op, "metaio.calls", 1)
      Trace.add(op, "metaio.ms", (t1 - t0) / 1000.0)
      if (bytes > 0) Trace.add(op, "metaio.bytes_written", bytes.toDouble)
    }
  }

  override def readString(p: Path): String = io("read")(inner.readString(p))
  /** A commit that loses the race to publish its version sees the file
    * exist: that is the optimistic commit loop's lost race. */
  override def createExclusive(p: Path, content: String): Unit =
    io("create_exclusive", content.length) {
      try inner.createExclusive(p, content) catch {
        case e: java.nio.file.FileAlreadyExistsException =>
          Trace.add(Trace.currentOp, "commit.lost_races", 1)
          throw e
      }
    }
  override def replaceAtomic(p: Path, content: String): Unit =
    io("write_replace", content.length)(inner.replaceAtomic(p, content))
  override def write(p: Path, content: String): Unit =
    io("write_replace", content.length)(inner.write(p, content))
  override def writeBytes(p: Path, bytes: Array[Byte]): Unit =
    io("write_replace", bytes.length)(inner.writeBytes(p, bytes))
  override def publish(src: Path, dst: Path): Unit = io("publish")(inner.publish(src, dst))
  override def list(dir: Path): Seq[Path] = io("list")(inner.list(dir))
  override def listTree(root: Path): Seq[Path] = io("list")(inner.listTree(root))
  override def isDirectory(p: Path): Boolean = io("stat")(inner.isDirectory(p))
  override def isFile(p: Path): Boolean = io("stat")(inner.isFile(p))
  override def exists(p: Path): Boolean = io("stat")(inner.exists(p))
  override def mkdirs(p: Path): Unit = io("stat")(inner.mkdirs(p))
  override def size(p: Path): Long = io("stat")(inner.size(p))
  override def delete(p: Path): Boolean = io("delete")(inner.delete(p))
  override def deleteTree(root: Path): Unit = io("delete")(inner.deleteTree(root))
}

/** The traced run's catalog: graft's own catalog with the counting MetaIO
  * behind its storage seam and `loadTable` timed by delegating to super. */
class TracedCatalog extends GraftCatalog {
  override protected val io: MetaIO = CountingMetaIO

  private def timed[T](f: => T): T = {
    val op = Trace.currentOp
    val t0 = Trace.nowUs()
    try f finally {
      val t1 = Trace.nowUs()
      Trace.spans.add(Span("loadTable", "lake.catalog", op, t0, t1))
      Trace.add(op, "catalog.load_table_calls", 1)
      Trace.add(op, "catalog.load_table_ms", (t1 - t0) / 1000.0)
    }
  }

  override def loadTable(ident: org.apache.spark.sql.connector.catalog.Identifier) =
    timed(super.loadTable(ident))
  override def loadTable(ident: org.apache.spark.sql.connector.catalog.Identifier,
      version: String) = timed(super.loadTable(ident, version))
  override def loadTable(ident: org.apache.spark.sql.connector.catalog.Identifier,
      timestamp: Long) = timed(super.loadTable(ident, timestamp))
}
