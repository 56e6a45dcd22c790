package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line settings of one run (see perfbench/run.py). */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    data: Path,
    work: Path,
    out: Path,
    cycles: Int,          // > 0: run exactly this many cycles, ignoring `seconds`
    setupRounds: Int,
    record: Option[Path]) // query_pack: write expected outputs here instead

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v
      case other => throw new IllegalArgumentException(
        s"expected --key value pairs, got ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("data")), Paths.get(need("work")),
      Paths.get(need("out")), m.get("cycles").map(_.toInt).getOrElse(0),
      m.get("setup-rounds").map(_.toInt).getOrElse(3),
      m.get("record").map(Paths.get(_)))
  }
}

/** One client op as the client saw it. */
final case class OpLog(id: Int, kind: String, cls: String, ms: Double,
    var ok: Boolean, startUs: Long, endUs: Long)

/** The closed-loop client: one thread, one op at a time, no think time.
  * Each op is timed around the call into graft only; input preparation
  * and output checks happen outside it. */
final class Client(spark: SparkSession) {
  val ops = mutable.ArrayBuffer.empty[OpLog]
  val errors = mutable.ArrayBuffer.empty[String]
  private var nextId = 0

  /** Run `body` as op `kind` of class `cls` ("commit", "read", "ingest",
    * "query"). Returns None when it threw; the op then counts as failed. */
  def op[T](kind: String, cls: String)(body: => T): Option[T] = {
    val id = nextId
    nextId += 1
    Trace.beginOp(spark, id)
    val us0 = Trace.nowUs()
    val t0 = System.nanoTime()
    val r = try Some(Trace.span(kind, "client")(body)) catch {
      case e: Exception =>
        errors += s"$kind#$id threw: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val us1 = Trace.nowUs()
    Trace.endOp(spark)
    ops += OpLog(id, kind, cls, ms, r.isDefined, us0, us1)
    r
  }

  /** Run whole cycles until `args.seconds` have passed (exactly
    * `args.cycles` of them when set); returns each cycle's seconds spent
    * inside its ops: graft's time, without the client's input building and
    * checks. */
  def cycles(args: Args)(body: => Unit): Seq[Double] = {
    val out = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (if (args.cycles > 0) out.size < args.cycles
           else (System.nanoTime() - t0) / 1e9 < args.seconds) {
      val first = ops.size
      body
      out += ops.drop(first).map(_.ms).sum / 1000.0
    }
    out.toSeq
  }

  /** Mark the last op failed when `cond` is false (a correctness check). */
  def check(cond: Boolean, what: => String): Unit =
    if (!cond) {
      ops.last.ok = false
      errors += s"${ops.last.kind}#${ops.last.id}: $what"
    }

  /** A check outside any op (final table content, report totals). */
  def finalCheck(cond: Boolean, what: => String): Unit =
    if (!cond) errors += s"final: $what"

  def attempted: Int = ops.size
  def failed: Int = ops.count(!_.ok) + errors.count(_.startsWith("final:"))
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  val TailGrid: Seq[Int] = Seq(99, 95, 90, 75, 50)

  /** The highest percentile of [[TailGrid]] with at least 10 samples beyond
    * it; the median when even it has fewer. Returns (percentile, value). */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val p = TailGrid.find(p => xs.size * (100 - p) / 100.0 >= 10).getOrElse(50)
    (p, quantile(xs, p / 100.0))
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-3))).sum / xs.size)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).toPlainString

  def obj(m: Seq[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Session {
  /** One local session the way the benchmark's users run graft: all cores
    * of the box, shuffle partitions = cores, graft's SQL extensions, and
    * the workload's catalog `bench` over a warehouse under the run's work
    * directory. */
  def start(args: Args, warehouse: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(warehouse)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.extensions", "graft.lake.GraftSqlExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("spark-warehouse").toString)
      .config("spark.sql.catalog.bench",
        if (args.trace) classOf[TracedCatalog].getName
        else classOf[graft.lake.GraftCatalog].getName)
      .config("spark.sql.catalog.bench.warehouse", warehouse.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Trace.install(spark)
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** What a workload hands back to Main. `cycles` are the durations of the
  * workload's repeating unit (a lake_mixed deck, a corpus_ingest round, a
  * query_pack pass); `details` are the workload's own named end-to-end
  * figures (value, unit). */
final case class Outcome(
    setupS: Seq[Double],
    cycles: Seq[Double],
    details: Seq[(String, Double, String)],
    layers: Map[String, Double],
    notes: Seq[(String, String)],
    client: Client)
