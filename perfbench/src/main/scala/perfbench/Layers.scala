package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Input scale: the data directory's name picks the batch-size factor, so
  * the smoke test's sf0.001 copy runs each workload shrunk. */
final case class Scale(name: String, batch: Double)

object Scale {
  def of(data: java.nio.file.Path): Scale = data.getFileName.toString match {
    case "sf0.1" => Scale("sf0.1", 1.0)
    case "sf0.001" => Scale("sf0.001", 0.1)
    case other => throw new IllegalArgumentException(s"unknown data scale '$other'")
  }
}

/** JVM-level readings taken at the start and end of the measured phase. */
final case class JvmSample(openFds: Long, blockManagerBytes: Long, gcMs: Long)

object JvmProbe {
  def sample(spark: SparkSession): JvmSample = {
    val fds = Option(new java.io.File("/proc/self/fd").list()).map(_.length.toLong).getOrElse(0L)
    val bm = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, remaining) => max - remaining }.sum
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    JvmSample(fds, bm, gc)
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.util.Try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
}

/** Per-layer metrics computed from the traced run's spans and counters. */
object Layers {
  /** Mean of counter `key` over `ops` (0 for no ops). */
  def perOp(ops: Seq[OpLog], key: String): Double =
    if (ops.isEmpty) 0.0 else ops.map(o => Trace.counter(o.id, key)).sum / ops.size

  val MetaioKinds: Seq[String] = Seq("read", "list", "create_exclusive",
    "write_replace", "publish", "stat", "delete")

  def metaioKinds(ops: Seq[OpLog], prefix: String): Map[String, Double] =
    MetaioKinds.map(k => s"$prefix.$k" -> perOp(ops, s"metaio.calls.$k")).toMap

  /** Op kinds of lake_mixed; other workloads report them as 0. */
  val LakeKinds: Seq[String] = Seq("append", "delete", "merge", "upsert",
    "compact", "rewrite_deletes", "expire", "point", "range", "full", "timetravel")

  /** Per lake op kind: an op `orders.append` is of kind `append`. */
  def byKind(ops: Seq[OpLog]): Map[String, Double] =
    LakeKinds.flatMap { k =>
      val sel = ops.filter(_.kind.split('.').last == k)
      Seq(s"lake.op.$k.ms" -> (if (sel.isEmpty) 0.0 else sel.map(_.ms).sum / sel.size),
        s"lake.op.$k.metaio_calls" -> perOp(sel, "metaio.calls"),
        s"lake.op.$k.jobs" -> perOp(sel, "sched.jobs"))
    }.toMap

  /** Attribute each recorded query (planning phases, scan files) to the op
    * whose window holds its analysis start. */
  private def attributeQueries(ops: Seq[OpLog]): Unit = {
    val windows = ops.map(o => (o.startUs / 1000, o.endUs / 1000 + 1, o.id))
    var q = PlanListener.queries.poll()
    while (q != null) {
      val (start, phases, files) = q
      windows.find { case (a, b, _) => start >= a && start <= b }.foreach { case (_, _, id) =>
        phases.foreach { case (p, ms) => Trace.add(id, s"catalyst.$p", ms.toDouble) }
        Trace.add(id, "scan.files", files.toDouble)
      }
      q = PlanListener.queries.poll()
    }
  }

  /** Layer metrics every workload reports. */
  def common(ops: Seq[OpLog], jvm0: JvmSample, jvm1: JvmSample): Map[String, Double] = {
    attributeQueries(ops)
    val byOp = Trace.spans.asScala.toSeq.groupBy(_.op)
    def union(o: OpLog, layers: Set[String]) = Trace.covered(
      byOp.getOrElse(o.id, Nil).filter(s => layers(s.layer)).map(s => (s.startUs, s.endUs)),
      o.startUs, o.endUs) / 1000.0
    def mean(f: OpLog => Double) = if (ops.isEmpty) 0.0 else ops.map(f).sum / ops.size
    val lat = ops.map(_.ms)
    Map(
      "sched.jobs_per_op" -> perOp(ops, "sched.jobs"),
      "sched.stages_per_op" -> perOp(ops, "sched.stages"),
      "sched.tasks_per_op" -> perOp(ops, "sched.tasks"),
      "exec.task_ms_per_op" -> perOp(ops, "exec.task_ms"),
      "exec.cpu_ms_per_op" -> perOp(ops, "exec.cpu_ms"),
      "exec.gc_ms_per_op" -> perOp(ops, "exec.gc_ms"),
      "exec.shuffle_bytes_per_op" -> perOp(ops, "exec.shuffle_bytes"),
      "exec.spill_bytes_per_op" -> perOp(ops, "exec.spill_bytes"),
      "catalyst.analysis_ms" -> perOp(ops, "catalyst.analysis"),
      "catalyst.optimization_ms" -> perOp(ops, "catalyst.optimization"),
      "catalyst.planning_ms" -> perOp(ops, "catalyst.planning"),
      "driver.self_ms_per_op" -> mean(o => (o.endUs - o.startUs) / 1000.0 -
        union(o, Set("spark.job", "lake.metaio"))),
      "self.spark_jobs_ms_per_op" -> mean(o => union(o, Set("spark.job"))),
      "self.metaio_ms_per_op" -> mean(o => union(o, Set("lake.metaio"))),
      "lake.catalog.load_table_calls_per_op" -> perOp(ops, "catalog.load_table_calls"),
      "lake.catalog.load_table_ms_per_op" -> perOp(ops, "catalog.load_table_ms"),
      "lake.commit.lost_races" -> ops.map(o => Trace.counter(o.id, "commit.lost_races")).sum,
      "jvm.open_fds_delta" -> (jvm1.openFds - jvm0.openFds).toDouble,
      "jvm.block_manager_mb_delta" ->
        (jvm1.blockManagerBytes - jvm0.blockManagerBytes) / (1024.0 * 1024.0),
      "jvm.driver_gc_ms" -> (jvm1.gcMs - jvm0.gcMs).toDouble,
      "trace.op_p50_ms" -> (if (lat.isEmpty) 0.0 else Stats.median(lat)),
      "trace.op_geomean_ms" -> (if (lat.isEmpty) 0.0 else Stats.geomean(lat)))
  }
}
