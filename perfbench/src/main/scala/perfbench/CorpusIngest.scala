package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.{Ingest, MediaIngest, SemanticIngest}

/** corpus_ingest: a seeded stream of batches through all three
  * incremental-admission engines. Each engine's corpus and index are
  * bootstrapped from every tenth row of `documents` / `embeddings` (by
  * id); each measured batch then mixes fresh rows from the rest with exact
  * and perturbed near-duplicates of rows the engine has already seen, in
  * the shares below. A round is one batch per engine.
  */
object CorpusIngest {
  val BootEvery = 10
  val FreshShare = 0.6
  val ExactShare = 0.2 // the rest are perturbed near-duplicates
  val Schemes: Seq[String] = Seq("neardup", "semantic", "media")
  val IdBase = 1000000000L

  /** Job groups that near-dup ingest labels with setJobDescription. */
  val NearDupSteps: Seq[String] = Seq("nd-ingest: gate+fp checkpoint",
    "nd-ingest: gated counts", "nd-ingest: signatures checkpoint",
    "nd-ingest: corpus band candidates", "nd-ingest: corpus-reject checkpoint",
    "nd-ingest: intra-batch CC", "nd-ingest: clean+admitted counts",
    "nd-ingest: corpus append", "nd-ingest: band-index append")

  def stepMetric(desc: String): String =
    "operators.ingest.step." + desc.toLowerCase.replaceAll("[^a-z0-9]+", "_")
      .stripPrefix("_").stripSuffix("_") + "_ms"

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))
  val MediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType), StructField("payload", BinaryType)))

  def ddl(ns: String): Seq[String] = Seq(
    s"CREATE NAMESPACE IF NOT EXISTS bench.$ns",
    s"CREATE TABLE bench.$ns.nd_corpus (doc_id BIGINT, text STRING) USING graft",
    s"CREATE TABLE bench.$ns.nd_bands (band_idx INT, band_hash BIGINT, doc_id BIGINT) USING graft",
    s"CREATE TABLE bench.$ns.sem_corpus (vec_id BIGINT, embedding ARRAY<FLOAT>) USING graft",
    s"CREATE TABLE bench.$ns.sem_centroids (cluster_id BIGINT, centroid ARRAY<DOUBLE>) USING graft",
    s"""CREATE TABLE bench.$ns.sem_index
        (cluster_id BIGINT, vec_id BIGINT, v ARRAY<DOUBLE>, nv DOUBLE) USING graft""",
    s"CREATE TABLE bench.$ns.media_corpus (media_id BIGINT, payload BINARY) USING graft",
    s"""CREATE TABLE bench.$ns.media_index
        (band_idx INT, band_val BIGINT, media_id BIGINT, phash BIGINT) USING graft""")

  def run(args: Args, scale: Scale): Outcome = {
    val warehouse = args.work.resolve("warehouse")
    val setup = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var boot: Map[String, Long] = Map.empty
    for (round <- 1 to args.setupRounds) {
      if (spark != null) Session.stop(spark)
      val t0 = System.nanoTime()
      spark = Session.start(args, warehouse)
      val ns = s"r$round"
      ddl(ns).foreach(spark.sql)
      boot = bootstrap(spark, args, ns)
      setup += (System.nanoTime() - t0) / 1e9
      if (round < args.setupRounds)
        graft.lake.LocalMetaIO.deleteTree(warehouse.resolve(ns))
    }
    val out = new IngestRun(spark, args, scale, s"r${args.setupRounds}", boot).measure()
    Session.stop(spark)
    out.copy(setupS = setup.toSeq)
  }

  /** Bootstrap each engine with the even-id half of its source; returns
    * the admitted count per scheme. */
  private def bootstrap(spark: SparkSession, args: Args, ns: String): Map[String, Long] = {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"${args.data}/documents.parquet")
      .select("doc_id", "text").filter(col("doc_id") % BootEvery === 0)
    val vecs = spark.read.parquet(s"${args.data}/embeddings.parquet")
      .select("vec_id", "embedding").filter(col("vec_id") % BootEvery === 0)
    val media = docs.select(col("doc_id").as("media_id"), col("text").cast("binary").as("payload"))
    Map(
      "neardup" -> Ingest.ingestBatchNearDup(spark, docs,
        s"bench.$ns.nd_corpus", s"bench.$ns.nd_bands").admitted,
      "semantic" -> SemanticIngest.ingestBatchSemantic(spark, vecs,
        s"bench.$ns.sem_corpus", s"bench.$ns.sem_centroids", s"bench.$ns.sem_index").admitted,
      "media" -> MediaIngest.ingestBatchMedia(spark, media,
        s"bench.$ns.media_corpus", s"bench.$ns.media_index").admitted)
  }
}

final class IngestRun(spark: SparkSession, args: Args, scale: Scale, ns: String,
    boot: Map[String, Long]) {
  import CorpusIngest._

  private val rnd = new Random(args.seed)
  val client = new Client(spark)
  private var nextId = IdBase

  private val srcDocs = spark.read.parquet(s"${args.data}/documents.parquet")
    .select("doc_id", "text").collect()
    .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("")))
  private val srcVecs = spark.read.parquet(s"${args.data}/embeddings.parquet")
    .select("vec_id", "embedding").collect()
    .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  // fresh pools (odd ids, seeded order) and everything each engine has seen
  private def boot(id: Long) = id % BootEvery == 0
  private val freshDocs = mutable.Queue.from(rnd.shuffle(srcDocs.filterNot(d => boot(d._1)).toSeq))
  private val freshMedia = mutable.Queue.from(rnd.shuffle(srcDocs.filterNot(d => boot(d._1)).toSeq))
  private val freshVecs = mutable.Queue.from(rnd.shuffle(srcVecs.filterNot(v => boot(v._1)).toSeq))
  private val seenDocs = mutable.ArrayBuffer.from(srcDocs.filter(d => boot(d._1)).map(_._2))
  private val seenMedia = mutable.ArrayBuffer.from(srcDocs.filter(d => boot(d._1)).map(_._2))
  private val seenVecs = mutable.ArrayBuffer.from(srcVecs.filter(v => boot(v._1)).map(_._2))
  private val words = srcDocs.flatMap(_._2.split(' ')).filter(_.nonEmpty).distinct.sorted

  private val admitted = mutable.Map.from(boot)
  private val rowsIn = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val msIn = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private def id(): Long = { val i = nextId; nextId += 1; i }

  /** (fresh, exact, perturbed) counts of a batch of `n` rows. */
  private def mix(n: Int): (Int, Int, Int) = {
    val f = (n * FreshShare).round.toInt
    val e = (n * ExactShare).round.toInt
    (f, e, n - f - e)
  }

  /** One word of the text replaced by another corpus word. */
  private def perturbText(t: String): String = {
    val w = t.split(' ')
    if (w.length < 2) t + " " + words(rnd.nextInt(words.length))
    else { w(rnd.nextInt(w.length)) = words(rnd.nextInt(words.length)); w.mkString(" ") }
  }

  private def perturbVec(v: Array[Float]): Array[Float] =
    v.map(x => (x * (1.0 + 0.01 * rnd.nextGaussian())).toFloat)

  /** One character of the payload replaced. */
  private def perturbBytes(t: String): String =
    if (t.isEmpty) "x"
    else { val i = rnd.nextInt(t.length); t.updated(i, ('a' + rnd.nextInt(26)).toChar) }

  private def textBatch(n: Int, fresh: mutable.Queue[(Long, String)],
      seen: mutable.ArrayBuffer[String], perturb: String => String): Seq[(Long, String)] = {
    val (f, e, p) = mix(n)
    val out = (0 until f).map(_ =>
        if (fresh.nonEmpty) fresh.dequeue()._2 else seen(rnd.nextInt(seen.size))) ++
      (0 until e).map(_ => seen(rnd.nextInt(seen.size))) ++
      (0 until p).map(_ => perturb(seen(rnd.nextInt(seen.size))))
    val rows = rnd.shuffle(out).map(t => (id(), t))
    seen ++= rows.map(_._2)
    rows
  }

  private def nearDup(): Unit = {
    val rows = textBatch(math.max(10, (200 * scale.batch).toInt), freshDocs, seenDocs, perturbText)
    val df = spark.createDataFrame(rows.map { case (i, t) => Row(i, t) }.asJava, DocSchema)
    client.op("neardup", "ingest") {
      Trace.span("graft.operators.Ingest.ingestBatchNearDup", "graft.entry") {
        Ingest.ingestBatchNearDup(spark, df, s"bench.$ns.nd_corpus", s"bench.$ns.nd_bands")
      }
    }.foreach { r =>
      account("neardup", rows.size, r.admitted)
      client.check(r.batchRows == rows.size && r.batchRows == r.qualityRejected +
        r.intraBatchDups + r.corpusNearDups + r.intraBatchNearDups + r.admitted,
        s"near-dup report does not add up to ${rows.size} rows: $r")
    }
  }

  private def semantic(): Unit = {
    val n = math.max(10, (100 * scale.batch).toInt)
    val (f, e, p) = mix(n)
    val vs = (0 until f).map(_ => if (freshVecs.nonEmpty) freshVecs.dequeue()._2
        else seenVecs(rnd.nextInt(seenVecs.size))) ++
      (0 until e).map(_ => seenVecs(rnd.nextInt(seenVecs.size))) ++
      (0 until p).map(_ => perturbVec(seenVecs(rnd.nextInt(seenVecs.size))))
    val rows = rnd.shuffle(vs).map(v => (id(), v))
    seenVecs ++= rows.map(_._2)
    val df = spark.createDataFrame(
      rows.map { case (i, v) => Row(i, v.toSeq) }.asJava, VecSchema)
    client.op("semantic", "ingest") {
      Trace.span("graft.operators.SemanticIngest.ingestBatchSemantic", "graft.entry") {
        SemanticIngest.ingestBatchSemantic(spark, df, s"bench.$ns.sem_corpus",
          s"bench.$ns.sem_centroids", s"bench.$ns.sem_index")
      }
    }.foreach { r =>
      account("semantic", rows.size, r.admitted)
      client.check(r.batchRows == rows.size &&
        r.batchRows == r.corpusNearDups + r.intraBatchNearDups + r.admitted,
        s"semantic report does not add up to ${rows.size} rows: $r")
    }
  }

  private def media(): Unit = {
    val rows = textBatch(math.max(10, (200 * scale.batch).toInt), freshMedia, seenMedia,
      perturbBytes)
    val df = spark.createDataFrame(rows.map { case (i, t) =>
      Row(i, t.getBytes(java.nio.charset.StandardCharsets.UTF_8)) }.asJava, MediaSchema)
    client.op("media", "ingest") {
      Trace.span("graft.operators.MediaIngest.ingestBatchMedia", "graft.entry") {
        MediaIngest.ingestBatchMedia(spark, df, s"bench.$ns.media_corpus", s"bench.$ns.media_index")
      }
    }.foreach { r =>
      account("media", rows.size, r.admitted)
      client.check(r.batchRows == rows.size && r.batchRows == r.gateRejected +
        r.intraBatchExactDups + r.corpusNearDups + r.intraBatchNearDups + r.admitted,
        s"media report does not add up to ${rows.size} rows: $r")
    }
  }

  private def account(scheme: String, rows: Long, adm: Long): Unit = {
    admitted(scheme) += adm
    rowsIn(scheme) += rows
    msIn(scheme) += client.ops.last.ms
  }

  def measure(): Outcome = {
    val jvm0 = JvmProbe.sample(spark)
    val cycles = client.cycles(args) {
      rnd.shuffle(Schemes).foreach {
        case "neardup" => nearDup()
        case "semantic" => semantic()
        case "media" => media()
      }
    }
    val jvm1 = JvmProbe.sample(spark)

    // final corpus counts equal the admitted totals; exact texts and
    // payloads can never be admitted twice
    Seq("neardup" -> "nd_corpus", "semantic" -> "sem_corpus", "media" -> "media_corpus")
      .foreach { case (s, t) =>
        val n = spark.table(s"bench.$ns.$t").count()
        client.finalCheck(n == admitted(s), s"$t holds $n rows, admitted total ${admitted(s)}")
      }
    Seq("nd_corpus" -> "text", "media_corpus" -> "payload").foreach { case (t, c) =>
      val r = spark.sql(s"SELECT count(*), count(DISTINCT $c) FROM bench.$ns.$t").head()
      client.finalCheck(r.getLong(0) == r.getLong(1),
        s"$t admitted ${r.getLong(0) - r.getLong(1)} exact duplicates")
    }

    val details = Schemes.map(s =>
      (s"ingest_${s}_rows_per_s", rowsIn(s) / math.max(1e-9, msIn(s) / 1000.0), "rows/s"))
    val layers = if (!args.trace) Map.empty[String, Double] else {
      Trace.drain()
      val ops = client.ops.toSeq
      val nd = ops.filter(_.kind == "neardup")
      val schemeLayers = Schemes.flatMap { s =>
        val sel = ops.filter(_.kind == s)
        Seq(s"operators.ingest.$s.batch_ms" ->
            (if (sel.isEmpty) 0.0 else sel.map(_.ms).sum / sel.size),
          s"operators.ingest.$s.jobs_per_batch" -> Layers.perOp(sel, "sched.jobs"))
      }
      val steps = NearDupSteps.map(d => stepMetric(d) -> Layers.perOp(nd, s"step.$d.ms"))
      Layers.common(ops, jvm0, jvm1) ++ schemeLayers ++ steps ++ Seq(
        "lake.metaio.calls_per_batch" -> Layers.perOp(ops, "metaio.calls"))
    }
    Outcome(Nil, cycles, details, layers,
      Schemes.map(s => s"${s}_batches" -> client.ops.count(_.kind == s).toString), client)
  }
}
