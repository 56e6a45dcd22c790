package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.collection.immutable.TreeMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.lake.{LocalMetaIO, SnapshotStore, Upsert}

/** lake_mixed: a copy-on-write table built from `orders` and a
  * merge-on-read, partitioned, z-ordered table built from `lineitem`, then
  * a seeded mix of about half commits and half reads on both.
  *
  * The client keeps an independent model of each table (key → the
  * columns the ops change, plus running count and fingerprint sums per
  * live snapshot version) and checks every read against it, and each
  * table's final content at the end. A row's fingerprint is a pure
  * integer function of its key and mutable columns, computed the same way
  * by Spark SQL and by the model, so a full-table check is one aggregate.
  */
object LakeMixed {

  /** One deck: four groups of two commits and two reads in seeded order,
    * each followed by a maintenance call, so a deck completes one
    * maintenance cycle. The groups fix which ops precede which maintenance
    * call (deletes always precede rewrite_deletes), so decks under any seed
    * leave the tables in comparable states. Decks repeat until the run's
    * time is up: every run does whole decks of the same mix. */
  val Groups: Seq[(Seq[String], String)] = Seq(
    Seq("lineitem.append", "lineitem.delete", "orders.point", "lineitem.point") ->
      "lineitem.compact",
    Seq("lineitem.delete", "lineitem.upsert", "orders.range", "lineitem.range") ->
      "lineitem.rewrite_deletes",
    Seq("orders.append", "orders.merge", "orders.full", "lineitem.full") ->
      "orders.expire",
    Seq("orders.delete", "lineitem.upsert", "orders.timetravel", "lineitem.timetravel") ->
      "lineitem.expire")
  val Maintenance: Seq[String] = Groups.map(_._2)
  val KeepLast = 4
  val NewKeyBase = 10000000L

  private val Mod = 2147483647L
  def ordersFp(k: Long, r: ORow): Long =
    Math.floorMod(k * 1000003L + r.cust * 7919L + r.cents * 31L + r.status.toLong, Mod)
  def lineFp(key: Long, r: LRow): Long =
    Math.floorMod((key >> 5) * 1000003L + (key & 31) * 7919L + r.qty * 31L + r.part, Mod)
  val OrdersFpSql = "pmod(o_orderkey * 1000003 + o_custkey * 7919 + " +
    "CAST(round(o_totalprice * 100) AS BIGINT) * 31 + ascii(o_orderstatus), 2147483647)"
  val LineFpSql = "pmod(l_orderkey * 1000003 + l_linenumber * 7919 + " +
    "CAST(l_quantity AS BIGINT) * 31 + l_partkey, 2147483647)"

  final case class ORow(cust: Long, cents: Long, status: Char)
  final case class LRow(part: Long, qty: Long)

  /** Model of one table version: rows by key, row count, fingerprint sum. */
  final case class Model[V](rows: TreeMap[Long, V], fpSum: Long) {
    def count: Long = rows.size.toLong
  }

  val OrdersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType)))
  val LineSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_shipdate", TimestampType)))
  // bytes of one user row as the client hands it over (fixed-width fields
  // plus one-character strings): the base of exec.bytes_written_per_user_byte
  val OrdersRowBytes = 33L
  val LineRowBytes = 53L

  def ddl(ns: String): Seq[String] = Seq(
    s"CREATE NAMESPACE IF NOT EXISTS bench.$ns",
    s"""CREATE TABLE bench.$ns.orders (${OrdersSchema.toDDL}) USING graft""",
    s"""CREATE TABLE bench.$ns.lineitem (${LineSchema.toDDL}) USING graft
        PARTITIONED BY (l_returnflag)
        TBLPROPERTIES ('graft.delete-mode' = 'merge-on-read',
                       'graft.sort-order' = 'zorder(l_orderkey, l_partkey)')""")

  /** The source table's columns of `schema`, cast to its types (the
    * parquet dates are zone-less timestamps). */
  def source(spark: SparkSession, dataDir: String, table: String, schema: StructType) =
    spark.read.parquet(s"$dataDir/$table.parquet").select(schema.fields.toSeq.map(f =>
      org.apache.spark.sql.functions.col(f.name).cast(f.dataType)): _*)

  /** The lineitem rows of every fourth order, with line numbers renumbered
    * within each order: the source repeats (l_orderkey, l_linenumber), and
    * the upserts need it to be a key. The quarter keeps a full
    * maintenance cycle inside one deck. */
  def lineSource(spark: SparkSession, dataDir: String) = {
    import org.apache.spark.sql.functions.{col, row_number}
    val all = LineSchema.fieldNames.toSeq.map(col)
    source(spark, dataDir, "lineitem", LineSchema).filter(col("l_orderkey") % 4 === 0)
      .withColumn("l_linenumber", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("l_orderkey").orderBy(all: _*)))
  }

  def run(args: Args, scale: Scale): Outcome = {
    val warehouse = args.work.resolve("warehouse")
    val setup = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    val dataDir = args.data.toString
    for (round <- 1 to args.setupRounds) {
      if (spark != null) Session.stop(spark)
      val t0 = System.nanoTime()
      spark = Session.start(args, warehouse)
      val ns = s"r$round"
      ddl(ns).foreach(spark.sql)
      source(spark, dataDir, "orders", OrdersSchema).writeTo(s"bench.$ns.orders").append()
      lineSource(spark, dataDir).writeTo(s"bench.$ns.lineitem").append()
      // warm-up: one read of each shape on both tables
      Seq("orders" -> "o_orderkey", "lineitem" -> "l_orderkey").foreach { case (t, k) =>
        spark.sql(s"SELECT * FROM bench.$ns.$t WHERE $k = 7").collect()
        spark.sql(s"SELECT count(*) FROM bench.$ns.$t WHERE $k BETWEEN 100 AND 300").collect()
        spark.sql(s"SELECT count(*) FROM bench.$ns.$t").collect()
      }
      setup += (System.nanoTime() - t0) / 1e9
      if (round < args.setupRounds) LocalMetaIO.deleteTree(warehouse.resolve(ns))
    }
    val run = new LakeRun(spark, args, scale, warehouse, s"r${args.setupRounds}")
    val out = run.measure()
    Session.stop(spark)
    out.copy(setupS = setup.toSeq)
  }
}

/** The measured part of lake_mixed on the last setup round's tables. */
final class LakeRun(spark: SparkSession, args: Args, scale: Scale,
    warehouse: Path, ns: String) {
  import LakeMixed._

  private val rnd = new Random(args.seed)
  val client = new Client(spark)
  private val ordersDir = warehouse.resolve(ns).resolve("orders")
  private val lineDir = warehouse.resolve(ns).resolve("lineitem")
  private def plainStore(dir: Path) = new SnapshotStore(dir)

  // ---- the model, built from the same source rows the tables were built from ----
  private val srcOrders = source(spark, args.data.toString, "orders", OrdersSchema).collect()
  private val srcLines = lineSource(spark, args.data.toString)
    .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity").collect()

  private var orders: Model[ORow] = {
    val rows = TreeMap.from(srcOrders.iterator.map(r => r.getLong(0) ->
      ORow(r.getLong(1), Math.round(r.getDouble(3) * 100), r.getString(2).head)))
    Model(rows, rows.iterator.map { case (k, v) => ordersFp(k, v) }.sum)
  }
  private var lines: Model[LRow] = {
    val rows = TreeMap.from(srcLines.iterator.map(r =>
      (r.getLong(0) * 32 + r.getInt(1)) -> LRow(r.getLong(2), r.getDouble(3).toLong)))
    Model(rows, rows.iterator.map { case (k, v) => lineFp(k, v) }.sum)
  }
  private val orderKeys = mutable.ArrayBuffer.from(srcOrders.iterator.map(_.getLong(0)))
  private val lineOrderKeys = mutable.ArrayBuffer.from(
    srcLines.iterator.map(_.getLong(0)).distinct)
  private var nextOrderKey = NewKeyBase
  private var nextLineOrderKey = NewKeyBase
  private val orderDates = srcOrders.map(_.getTimestamp(4))

  // live versions → model, per table
  private val ordersVersions = mutable.TreeMap(headVersion(ordersDir) -> orders)
  private val lineVersions = mutable.TreeMap(headVersion(lineDir) -> lines)

  private def headVersion(dir: Path): Long =
    plainStore(dir).currentVersion().getOrElse(0L)

  // per-op snapshot samples (traced runs), commit user bytes
  private val snapSamples = mutable.ArrayBuffer.empty[(Double, Double, Double, Double)]
  private val userBytes = mutable.Map.empty[Int, Long]
  private val rowsReturned = mutable.Map.empty[Int, Long]

  private def pick[T](xs: collection.IndexedSeq[T]): T = xs(rnd.nextInt(xs.size))
  private def pickSrc(): Row = srcOrders(rnd.nextInt(srcOrders.length))

  private def batchSize(n: Int): Int = math.max(4, (n * scale.batch).toInt)

  private def sqlRows(q: String): Array[Row] = spark.sql(q).collect()

  private def agg[V](m: Model[V], lo: Long, hi: Long, fp: (Long, V) => Long)
      : (Long, Long) = {
    val r = m.rows.range(lo, hi)
    (r.size.toLong, r.iterator.map { case (k, v) => fp(k, v) }.sum)
  }

  // ---------------- commits ----------------

  private def commitDone(table: String): Unit = table match {
    case "orders" => ordersVersions(headVersion(ordersDir)) = orders
    case _ => lineVersions(headVersion(lineDir)) = lines
  }

  private def ordersAppend(): Unit = {
    val n = batchSize(100)
    val rows = (0 until n).map { _ =>
      val s = pickSrc()
      val k = nextOrderKey; nextOrderKey += 1
      val cents = math.max(1L, Math.round(s.getDouble(3) * 100) + rnd.nextInt(2001) - 1000)
      (k, ORow(s.getLong(1), cents, s.getString(2).head), s.getTimestamp(4))
    }
    val df = spark.createDataFrame(rows.map { case (k, r, d) =>
      Row(k, r.cust, r.status.toString, r.cents / 100.0, d) }.asJava, OrdersSchema)
    df.createOrReplaceTempView("src_orders")
    client.op("orders.append", "commit") {
      spark.sql(s"INSERT INTO bench.$ns.orders SELECT * FROM src_orders")
    }.foreach { _ =>
      userBytes(client.ops.last.id) = n * OrdersRowBytes
      rows.foreach { case (k, r, _) =>
        orders = Model(orders.rows.updated(k, r), orders.fpSum + ordersFp(k, r))
        orderKeys += k
      }
      commitDone("orders")
    }
  }

  private def ordersDelete(): Unit = {
    val keys = Seq.fill(batchSize(20))(pick(orderKeys)).distinct
    client.op("orders.delete", "commit") {
      spark.sql(s"DELETE FROM bench.$ns.orders WHERE o_orderkey IN (${keys.mkString(",")})")
    }.foreach { _ =>
      userBytes(client.ops.last.id) = 0L
      keys.foreach(k => orders.rows.get(k).foreach { r =>
        orders = Model(orders.rows.removed(k), orders.fpSum - ordersFp(k, r))
      })
      commitDone("orders")
    }
  }

  private def ordersMerge(): Unit = {
    val n = batchSize(100)
    val old = Seq.fill(n / 2)(pick(orderKeys)).distinct
    val fresh = (0 until n - n / 2).map { _ => val k = nextOrderKey; nextOrderKey += 1; k }
    val rows = (old ++ fresh).map { k =>
      val s = pickSrc()
      val cents = 100L + rnd.nextInt(50000000)
      (k, ORow(s.getLong(1), cents, if (old.contains(k)) 'U' else s.getString(2).head),
        orderDates(rnd.nextInt(orderDates.length)))
    }
    val df = spark.createDataFrame(rows.map { case (k, r, d) =>
      Row(k, r.cust, r.status.toString, r.cents / 100.0, d) }.asJava, OrdersSchema)
    df.createOrReplaceTempView("src_merge")
    client.op("orders.merge", "commit") {
      spark.sql(s"""MERGE INTO bench.$ns.orders t USING src_merge s
                    ON t.o_orderkey = s.o_orderkey
                    WHEN MATCHED THEN UPDATE SET
                      t.o_totalprice = s.o_totalprice, t.o_orderstatus = s.o_orderstatus
                    WHEN NOT MATCHED THEN INSERT *""")
    }.foreach { _ =>
      userBytes(client.ops.last.id) = rows.size * OrdersRowBytes
      rows.foreach { case (k, r, _) =>
        orders.rows.get(k) match {
          case Some(prev) =>
            val next = prev.copy(cents = r.cents, status = r.status)
            orders = Model(orders.rows.updated(k, next),
              orders.fpSum - ordersFp(k, prev) + ordersFp(k, next))
          case None =>
            orders = Model(orders.rows.updated(k, r), orders.fpSum + ordersFp(k, r))
        }
      }
      orderKeys ++= fresh
      commitDone("orders")
    }
  }

  private val Flags = Vector("A", "N", "R")
  private val ShipBase = Timestamp.valueOf("1995-01-02 00:00:00").getTime

  private def lineRow(key: Long, r: LRow): Row =
    Row(key >> 5, (key & 31).toInt, r.part, 1L + rnd.nextInt(1000), r.qty.toDouble,
      (r.qty * (900 + rnd.nextInt(100000))) / 100.0, pick(Flags),
      new Timestamp(ShipBase + rnd.nextInt(2500).toLong * 86400000L))

  private def lineAppend(): Unit = {
    val orders = batchSize(50)
    val rows = (0 until orders).flatMap { _ =>
      val ok = nextLineOrderKey; nextLineOrderKey += 1
      lineOrderKeys += ok
      (1 to 4).map(ln => (ok * 32 + ln) -> LRow(1L + rnd.nextInt(20000), 1L + rnd.nextInt(50)))
    }
    val df = spark.createDataFrame(rows.map { case (k, r) => lineRow(k, r) }.asJava, LineSchema)
    df.createOrReplaceTempView("src_lines")
    client.op("lineitem.append", "commit") {
      spark.sql(s"INSERT INTO bench.$ns.lineitem SELECT * FROM src_lines")
    }.foreach { _ =>
      userBytes(client.ops.last.id) = rows.size * LineRowBytes
      rows.foreach { case (k, r) =>
        lines = Model(lines.rows.updated(k, r), lines.fpSum + lineFp(k, r))
      }
      commitDone("lineitem")
    }
  }

  private def lineDelete(): Unit = {
    val a = pick(lineOrderKeys)
    val b = a + math.max(1, (10 * scale.batch).toInt) - 1
    client.op("lineitem.delete", "commit") {
      spark.sql(s"DELETE FROM bench.$ns.lineitem WHERE l_orderkey BETWEEN $a AND $b")
    }.foreach { _ =>
      userBytes(client.ops.last.id) = 0L
      lines.rows.range(a * 32, (b + 1) * 32).foreach { case (k, r) =>
        lines = Model(lines.rows.removed(k), lines.fpSum - lineFp(k, r))
      }
      commitDone("lineitem")
    }
  }

  private def lineUpsert(): Unit = {
    val n = batchSize(100)
    val old = Seq.fill(n * 3 / 5)(pick(lineOrderKeys) * 32 + 1 + rnd.nextInt(4)).distinct
    val fresh = (0 until (n - n * 3 / 5 + 3) / 4).flatMap { _ =>
      val ok = nextLineOrderKey; nextLineOrderKey += 1
      lineOrderKeys += ok
      (1 to 4).map(ln => ok * 32 + ln)
    }
    val rows = (old ++ fresh).map { k =>
      val part = lines.rows.get(k).map(_.part).getOrElse(1L + rnd.nextInt(20000))
      k -> LRow(part, 1L + rnd.nextInt(50))
    }
    val df = spark.createDataFrame(rows.map { case (k, r) => lineRow(k, r) }.asJava, LineSchema)
    val store = new SnapshotStore(lineDir,
      io = if (args.trace) CountingMetaIO else LocalMetaIO)
    client.op("lineitem.upsert", "commit") {
      Trace.span("graft.lake.Upsert.into", "graft.entry") {
        Upsert.into(spark, store, df, Seq("l_orderkey", "l_linenumber"))
      }
    }.foreach { _ =>
      userBytes(client.ops.last.id) = rows.size * LineRowBytes
      rows.foreach { case (k, r) =>
        val prevFp = lines.rows.get(k).map(lineFp(k, _)).getOrElse(0L)
        lines = Model(lines.rows.updated(k, r), lines.fpSum - prevFp + lineFp(k, r))
      }
      commitDone("lineitem")
    }
  }

  private def maintenance(kind: String): Unit = {
    val (table, proc) = kind.split('.') match { case Array(t, p) => (t, p) }
    val call = proc match {
      case "compact" => s"CALL bench.system.compact('$ns.$table')"
      case "rewrite_deletes" => s"CALL bench.system.rewrite_deletes('$ns.$table')"
      case "expire" => s"CALL bench.system.expire_snapshots('$ns.$table', $KeepLast)"
    }
    val entry = proc match {
      case "compact" => "graft.lake.Maintenance.compact"
      case "rewrite_deletes" => "graft.lake.Maintenance.rewriteDeletes"
      case _ => "graft.lake.Maintenance.expireSnapshots"
    }
    client.op(kind, "commit") {
      Trace.span(entry, "graft.entry")(spark.sql(call).collect())
    }.foreach { _ =>
      userBytes(client.ops.last.id) = 0L
      val dir = if (table == "orders") ordersDir else lineDir
      val live = plainStore(dir).listVersions().toSet
      val versions = if (table == "orders") ordersVersions else lineVersions
      versions.keys.filterNot(live).toSeq.foreach(versions.remove)
      if (proc != "expire") commitDone(table)
    }
  }

  // ---------------- reads ----------------

  private def read(kind: String): Unit = {
    val (table, shape) = kind.split('.') match { case Array(t, s) => (t, s) }
    val isOrders = table == "orders"
    val fpSql = if (isOrders) OrdersFpSql else LineFpSql
    val t = s"bench.$ns.$table"
    shape match {
      case "point" =>
        val k = if (isOrders) pick(orderKeys) else pick(lineOrderKeys)
        val q = if (isOrders)
          s"SELECT o_orderkey, $fpSql AS fp FROM $t WHERE o_orderkey = $k"
        else s"SELECT l_orderkey * 32 + l_linenumber, $fpSql AS fp FROM $t WHERE l_orderkey = $k"
        client.op(kind, "read")(sqlRows(q)).foreach { rs =>
          rowsReturned(client.ops.last.id) = rs.length.toLong
          val got = rs.map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
          val want =
            if (isOrders) orders.rows.get(k).map(v => (k, ordersFp(k, v))).toSeq
            else lines.rows.range(k * 32, k * 32 + 32).map { case (kk, v) => (kk, lineFp(kk, v)) }.toSeq
          client.check(got == want, s"point $table key $k: got $got want $want")
        }
      case "range" =>
        val (col, width) = if (isOrders) ("o_orderkey", 1000) else ("l_orderkey", 200)
        val a = if (isOrders) pick(orderKeys) else pick(lineOrderKeys)
        val b = a + width - 1
        client.op(kind, "read") {
          sqlRows(s"SELECT count(*), coalesce(sum($fpSql), 0) FROM $t WHERE $col BETWEEN $a AND $b")
        }.foreach { rs =>
          rowsReturned(client.ops.last.id) = 1L
          val got = (rs(0).getLong(0), rs(0).getLong(1))
          val want = if (isOrders) agg(orders, a, b + 1, ordersFp)
            else agg(lines, a * 32, (b + 1) * 32, lineFp)
          client.check(got == want, s"range $table [$a,$b]: got $got want $want")
        }
      case "full" =>
        client.op(kind, "read") {
          sqlRows(s"SELECT count(*), coalesce(sum($fpSql), 0) FROM $t")
        }.foreach { rs =>
          rowsReturned(client.ops.last.id) = 1L
          val got = (rs(0).getLong(0), rs(0).getLong(1))
          val want = if (isOrders) (orders.count, orders.fpSum) else (lines.count, lines.fpSum)
          client.check(got == want, s"full $table: got $got want $want")
        }
      case "timetravel" =>
        val versions = if (isOrders) ordersVersions else lineVersions
        // the table as of its previous commit: a still-live snapshot
        val live = versions.keys.toIndexedSeq
        val v = live(math.max(0, live.size - 2))
        client.op(kind, "read") {
          sqlRows(s"SELECT count(*), coalesce(sum($fpSql), 0) FROM $t VERSION AS OF $v")
        }.foreach { rs =>
          rowsReturned(client.ops.last.id) = 1L
          val got = (rs(0).getLong(0), rs(0).getLong(1))
          val m = versions(v)
          client.check(got == (m.count, m.fpSum),
            s"timetravel $table v$v: got $got want ${(m.count, m.fpSum)}")
        }
    }
  }

  private def runOp(kind: String): Unit = kind match {
    case "orders.append" => ordersAppend()
    case "orders.delete" => ordersDelete()
    case "orders.merge" => ordersMerge()
    case "lineitem.append" => lineAppend()
    case "lineitem.delete" => lineDelete()
    case "lineitem.upsert" => lineUpsert()
    case k if Maintenance.contains(k) => maintenance(k)
    case k => read(k)
  }

  def deck(): Seq[String] = Groups.flatMap { case (ops, m) => rnd.shuffle(ops) :+ m }

  private def sampleSnapshots(): Unit = if (args.trace) {
    val s = Seq(ordersDir, lineDir).flatMap(d => plainStore(d).head())
    val metaBytes = Seq(ordersDir, lineDir).map(d =>
      LocalMetaIO.listTree(d.resolve("metadata")).map(Files.size).sum).sum
    snapSamples += ((s.map(_.fileCount).sum.toDouble, s.map(_.deleteFiles.size).sum.toDouble,
      s.map(_.manifests.size).sum.toDouble, metaBytes.toDouble))
  }

  def measure(): Outcome = {
    val jvm0 = JvmProbe.sample(spark)
    val cycles = client.cycles(args)(deck().foreach { k => runOp(k); sampleSnapshots() })
    val jvm1 = JvmProbe.sample(spark)
    // final content of both tables against the model
    val Seq(o, l) = Seq(("orders", OrdersFpSql), ("lineitem", LineFpSql)).map { case (t, fp) =>
      val r = sqlRows(s"SELECT count(*), coalesce(sum($fp), 0) FROM bench.$ns.$t")(0)
      (r.getLong(0), r.getLong(1))
    }
    client.finalCheck(o == (orders.count, orders.fpSum),
      s"orders final content $o != model ${(orders.count, orders.fpSum)}")
    client.finalCheck(l == (lines.count, lines.fpSum),
      s"lineitem final content $l != model ${(lines.count, lines.fpSum)}")
    val diskBytes = Seq(ordersDir, lineDir).map(d =>
      LocalMetaIO.listTree(d).map(Files.size).sum).sum
    val liveRows = orders.count + lines.count

    val commits = client.ops.filter(_.cls == "commit").map(_.ms).toSeq
    val reads = client.ops.filter(_.cls == "read").map(_.ms).toSeq
    val (cp, ct) = Stats.tail(commits)
    val (rp, rt) = Stats.tail(reads)
    val details = Seq(
      ("commit_p50_ms", Stats.median(commits), "ms"),
      ("commit_tail_ms", ct, "ms"),
      ("read_p50_ms", Stats.median(reads), "ms"),
      ("read_tail_ms", rt, "ms"),
      ("lake_bytes_per_row", diskBytes.toDouble / math.max(1L, liveRows), "B/row"))
    val notes = Seq(
      "commit_tail_percentile" -> s"p$cp of ${commits.size} commits",
      "read_tail_percentile" -> s"p$rp of ${reads.size} reads")

    val layers = if (!args.trace) Map.empty[String, Double] else {
      Trace.drain()
      val L = Layers.common(client.ops.toSeq, jvm0, jvm1)
      val commitOps = client.ops.filter(_.cls == "commit").toSeq
      val readOps = client.ops.filter(_.cls == "read").toSeq
      val compacts = client.ops.filter(_.kind.endsWith(".compact")).toSeq
      def c(op: OpLog, k: String) = Trace.counter(op.id, k)
      val written = commitOps.map(c(_, "exec.bytes_written")).sum
      val user = commitOps.map(o => userBytes.getOrElse(o.id, 0L)).sum
      val snaps = if (snapSamples.isEmpty) Seq((0.0, 0.0, 0.0, 0.0)) else snapSamples.toSeq
      val lake = Map(
        "lake.metaio.calls_per_commit" -> Layers.perOp(commitOps, "metaio.calls"),
        "lake.metaio.ms_per_commit" -> Layers.perOp(commitOps, "metaio.ms"),
        "lake.metaio.bytes_written_per_commit" -> Layers.perOp(commitOps, "metaio.bytes_written"),
        "lake.metaio.calls_per_read" -> Layers.perOp(readOps, "metaio.calls"),
        "lake.metaio.ms_per_read" -> Layers.perOp(readOps, "metaio.ms"),
        "lake.snapshot.data_files" -> snaps.map(_._1).sum / snaps.size,
        "lake.snapshot.delete_files" -> snaps.map(_._2).sum / snaps.size,
        "lake.snapshot.manifest_chunks" -> snaps.map(_._3).sum / snaps.size,
        "lake.snapshot.metadata_bytes" -> snaps.map(_._4).sum / snaps.size,
        "lake.scan.files_read_per_read" -> Layers.perOp(readOps, "scan.files"),
        "lake.scan.rows_examined_per_row_returned" ->
          readOps.map(c(_, "exec.records_read")).sum /
            math.max(1L, readOps.map(o => rowsReturned.getOrElse(o.id, 0L)).sum),
        "lake.maintenance.compact_ms" ->
          (if (compacts.isEmpty) 0.0 else compacts.map(_.ms).sum / compacts.size),
        "lake.maintenance.bytes_rewritten" -> Layers.perOp(compacts, "exec.bytes_written"),
        "exec.bytes_written_per_user_byte" -> written / math.max(1L, user),
        "lake.bytes_per_live_row" -> diskBytes.toDouble / math.max(1L, liveRows)) ++
        Layers.metaioKinds(commitOps, "lake.metaio.calls_per_commit") ++
        Layers.byKind(client.ops.toSeq)
      L ++ lake
    }
    Outcome(Nil, cycles, details, layers, notes, client)
  }
}
