package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}

import graft.Q
import graft.operators._

/** query_pack: a seeded sample of graft's declared queries over the plain
  * parquet tables, each run through the `noop` sink as graft.Bench does.
  * Every pack except LakeOps contributes one query per pass. Within a pack
  * the seed draws among the (up to) three queries whose reference cost is
  * nearest the pack's lower quartile, so passes under different seeds do
  * comparable work while the sample still varies with the seed. The lower
  * quartile rather than the median keeps a checked pass plus a timed pass
  * inside the run's time budget.
  */
object QueryPack {
  val Packs: Seq[(String, Seq[Q])] = Seq(
    "Relational" -> Relational.all, "Analytics" -> Analytics.all,
    "TextOps" -> TextOps.all, "Dedup" -> Dedup.all, "Similarity" -> Similarity.all,
    "Multimodal" -> Multimodal.all, "StreamingOps" -> StreamingOps.all,
    "Sources" -> Sources.all, "Skew" -> Skew.all, "TypedOps" -> TypedOps.all,
    "AsOf" -> AsOf.all, "Ranges" -> Ranges.all, "Pipeline" -> Pipeline.all,
    "Selection" -> Selection.all, "Retrieval" -> Retrieval.all,
    "CorpusOps" -> CorpusOps.all)
  val WarmupQuery = "q1_pricing_summary"
  val Candidates = 3
  val Tolerance = 0.2

  /** Expected output of one query, recorded from the seed code. */
  final case class Expected(pack: String, refMs: Double, rows: Long, hash: Long)

  def expectedFile(args: Args): Path =
    args.data.getParent.getParent.resolve("expected").resolve(s"${args.data.getFileName}.tsv")

  def loadExpected(p: Path): Map[String, Expected] =
    scala.io.Source.fromFile(p.toFile).getLines().drop(1).map(_.split('\t')).map {
      case Array(q, pack, ms, rows, hash) =>
        q -> Expected(pack, ms.toDouble, rows.toLong, hash.toLong)
    }.toMap

  /** Row count and an order-insensitive hash of the query's output: the
    * sum of XXH64 over each row's UnsafeRow bytes. */
  def digest(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      it.foreach { r =>
        val u = proj(r)
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        n += 1
      }
      Iterator((n, h))
    }.collect()
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def byName(name: String): Q = Packs.flatMap(_._2).find(_.name == name).get

  /** Per pack, the (up to [[Candidates]]) queries nearest the lower
    * quartile of the pack's reference costs and within [[Tolerance]] of it;
    * at least the nearest. */
  def pool(expected: Map[String, Expected]): Seq[(String, Seq[String])] =
    Packs.map { case (pack, qs) =>
      val costs = qs.map(q => q.name -> expected(q.name).refMs)
      val target = Stats.quantile(costs.map(_._2), 0.25)
      val near = costs.sortBy { case (n, c) => (math.abs(c - target), n) }.take(Candidates)
      pack -> (near.head +: near.tail.filter(q => math.abs(q._2 - target) <= Tolerance * target))
        .map(_._1)
    }

  def sample(rnd: Random, expected: Map[String, Expected]): Seq[String] =
    rnd.shuffle(pool(expected).map { case (_, c) => c(rnd.nextInt(c.size)) })

  def run(args: Args, scale: Scale): Outcome = {
    val data = args.data.toString
    val setup = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 1 to args.setupRounds) {
      if (spark != null) Session.stop(spark)
      val t0 = System.nanoTime()
      spark = Session.start(args, args.work.resolve("warehouse"))
      noop(byName(WarmupQuery).fn(spark, data))
      setup += (System.nanoTime() - t0) / 1e9
    }
    val out = args.record match {
      case Some(p) => record(spark, data, p)
      case None => measure(spark, args, loadExpected(expectedFile(args)))
    }
    Session.stop(spark)
    out.copy(setupS = setup.toSeq)
  }

  /** Write the expected-output file: every query of every sampled pack,
    * with its reference cost (the faster of two noop runs) and digest. */
  private def record(spark: SparkSession, data: String, out: Path): Outcome = {
    val sb = new StringBuilder("query\tpack\tref_ms\trows\thash\n")
    Packs.foreach { case (pack, qs) => qs.foreach { q =>
      val ms = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        noop(q.fn(spark, data))
        org.apache.spark.sql.graftbridge.CheckpointBridge.sweep(spark)
        (System.nanoTime() - t0) / 1e6
      }.min
      val (rows, hash) = digest(q.fn(spark, data))
      org.apache.spark.sql.graftbridge.CheckpointBridge.sweep(spark)
      System.err.println(f"[record] ${q.name}%-32s $ms%9.1f ms $rows%8d rows")
      sb ++= f"${q.name}\t$pack\t$ms%.1f\t$rows\t$hash\n"
    } }
    Files.writeString(out, sb.toString)
    Outcome(Nil, Nil, Nil, Map.empty, Nil, new Client(spark))
  }

  private def measure(spark: SparkSession, args: Args,
      expected: Map[String, Expected]): Outcome = {
    val rnd = new Random(args.seed)
    val client = new Client(spark)
    val names = sample(rnd, expected)
    val data = args.data.toString
    // outputs: one checked execution per sampled query, before and outside
    // the timed passes (it also warms each query's code paths)
    val wrong = names.flatMap { n =>
      val e = expected(n)
      val got = scala.util.Try(digest(byName(n).fn(spark, data)))
      org.apache.spark.sql.graftbridge.CheckpointBridge.sweep(spark)
      if (got.toOption.contains((e.rows, e.hash))) None
      else Some(n -> (s"$n: output ${got.map(_.toString).getOrElse(got.failed.get.toString)} " +
        s"!= expected ${(e.rows, e.hash)}"))
    }.toMap
    val jvm0 = JvmProbe.sample(spark)
    val cycles = client.cycles(args) {
      names.foreach { n =>
        val q = byName(n)
        client.op(n, "query") {
          Trace.span(s"graft.operators.${expected(n).pack}.${n}", "graft.entry") {
            val df = q.fn(spark, data)
            noop(df)
            // the query was analyzed when its frame was built; the noop
            // write's own planning reaches the listener
            if (Trace.enabled) df.queryExecution.tracker.phases.get("analysis")
              .foreach(p => Trace.add(Trace.currentOp, "catalyst.analysis", p.durationMs.toDouble))
          }
        }
        org.apache.spark.sql.graftbridge.CheckpointBridge.sweep(spark)
      }
    }
    val jvm1 = JvmProbe.sample(spark)
    wrong.foreach { case (n, why) =>
      client.ops.filter(_.kind == n).foreach(_.ok = false)
      client.errors += why
    }

    val lat = client.ops.map(_.ms).toSeq
    val details = Seq(
      ("pack_s", Stats.median(cycles), "s"),
      ("query_geomean_ms", Stats.geomean(lat), "ms"))
    val layers = if (!args.trace) Map.empty[String, Double] else {
      Trace.drain()
      val ops = client.ops.toSeq
      Layers.common(ops, jvm0, jvm1) ++ Packs.map { case (pack, _) =>
        s"operators.pack.${pack}_s" ->
          ops.filter(o => expected(o.kind).pack == pack).map(_.ms).sum / 1000.0 / cycles.size
      }
    }
    Outcome(Nil, cycles, details, layers,
      Seq("sample" -> names.mkString(",")), client)
  }
}
