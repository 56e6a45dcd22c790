package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.lake._

/** SELECTs over merge-on-read tables with pending deletes, and `_file`
  * projections, are served by GraftBatchScan: its readers skip deleted
  * rows per file and emit `_file`. Pins what those reads must keep:
  * the `_file` strings, exact identity-partition selection behind the
  * filters the builder reports as pushed, nested-column pruning, planner
  * statistics, and `readStream.table` on such a table. */
class MorSelectSpec extends AnyFunSuite with BeforeAndAfterAll {

  // a space in the warehouse path: `_file` values are URIs, so it must
  // come back percent-encoded, exactly as before
  private val wh = Files.createTempDirectory("graft-morsel wh").toString

  private lazy val spark = {
    val s = SparkSpec.session
    s.conf.set("spark.sql.catalog.morsel", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.morsel.warehouse", wh)
    s
  }

  private def sql(q: String) = spark.sql(q)
  private def store(t: String) = new SnapshotStore(Paths.get(wh, "d", t))

  override def beforeAll(): Unit = sql("CREATE NAMESPACE IF NOT EXISTS morsel.d")

  /** MOR table partitioned by `g`, ids 1-6 over partitions a, b, c, with
    * positional tuples for ids 1 and 4 left pending. */
  private def makeTable(t: String): Unit = {
    sql(s"""CREATE TABLE morsel.d.$t (id INT, g STRING) USING graft
            PARTITIONED BY (g)
            TBLPROPERTIES ('graft.delete-mode' = 'merge-on-read')""")
    sql(s"""INSERT INTO morsel.d.$t
            VALUES (1,'a'),(2,'a'),(3,'b'),(4,'b'),(5,'c'),(6,'c')""")
    sql(s"DELETE FROM morsel.d.$t WHERE id = 1 OR id = 4")
    assert(store(t).head().get.deleteFiles.nonEmpty, "tuples must be pending")
  }

  /** `_file` of each data file: its URI, mapped to its `col` partition value. */
  private def fileUris(t: String, col: String = "g"): Map[String, String] = {
    val st = store(t)
    st.head().get.files.map(f =>
      st.tableDir.resolve(f.path).toUri.toString -> f.partitionValues(col)).toMap
  }

  test("SELECT _file returns each row's data-file URI, with or without deletes") {
    sql("""CREATE TABLE morsel.d.clean (id INT, g STRING) USING graft
           PARTITIONED BY (g)""")
    sql("INSERT INTO morsel.d.clean VALUES (1,'a'),(2,'b')")
    makeTable("files")
    for (t <- Seq("clean", "files")) {
      val uris = fileUris(t)
      val rows = sql(s"SELECT id, g, _file FROM morsel.d.$t ORDER BY id").collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val f = r.getString(2)
        assert(f.startsWith("file:///") && f.contains("graft-morsel%20wh"),
          s"not the file URI form: $f")
        assert(uris.get(f).contains(r.getString(1)),
          s"row ${r.getInt(0)} reports $f, not a file of its partition")
      }
    }
    assert(sql("SELECT id FROM morsel.d.files ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == Seq(2, 3, 5, 6))
  }

  test("_file with an identity-partition predicate reads only matching files") {
    sql("""CREATE TABLE morsel.d.exact (id INT, p INT) USING graft
           PARTITIONED BY (p)
           TBLPROPERTIES ('graft.delete-mode' = 'merge-on-read')""")
    sql("""INSERT INTO morsel.d.exact
           VALUES (1,1),(2,1),(3,2),(4,2),(5,3),(6,3),(7,NULL)""")
    sql("DELETE FROM morsel.d.exact WHERE id = 1 OR id = 4")
    assert(store("exact").head().get.deleteFiles.nonEmpty)
    val uris = fileUris("exact", "p")
    // `p` is not projected and the builder claims these filters as
    // pushed: no Filter re-applies them, so only the scan's exact file
    // selection keeps other partitions out (stats pruning alone cannot
    // exclude any file for NOT IN)
    for ((pred, want) <- Seq(
        "p = 1" -> Seq(2),
        "p <> 2" -> Seq(2, 5, 6),
        "p IN (2, 3)" -> Seq(3, 5, 6),
        "p NOT IN (2, 3)" -> Seq(2),
        "p IS NULL" -> Seq(7))) {
      val df = sql(s"SELECT id, _file FROM morsel.d.exact WHERE $pred ORDER BY id")
      val opt = df.queryExecution.optimizedPlan.toString
      assert(!opt.contains("Filter"), s"WHERE $pred not claimed:\n$opt")
      val rows = df.collect()
      assert(rows.map(_.getInt(0)).toSeq == want, s"WHERE $pred")
      assert(rows.forall(r => uris.contains(r.getString(1))), s"WHERE $pred")
    }
  }

  test("nested-field projections read the pruned struct under pending deletes") {
    sql("""CREATE TABLE morsel.d.nested (id INT, s STRUCT<a: INT, b: STRING, c: INT>)
           USING graft TBLPROPERTIES ('graft.delete-mode' = 'merge-on-read')""")
    sql("""INSERT INTO morsel.d.nested VALUES
           (1, named_struct('a', 10, 'b', 'x', 'c', 100)),
           (2, named_struct('a', 20, 'b', 'y', 'c', 200)),
           (3, named_struct('a', 30, 'b', 'z', 'c', 300))""")
    sql("DELETE FROM morsel.d.nested WHERE id = 1 OR id = 3")
    assert(sql("SELECT id, s.c FROM morsel.d.nested").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((2, 200)))
    assert(sql("SELECT s.b, s.c, _file IS NOT NULL FROM morsel.d.nested").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getBoolean(2))).toSeq ==
      Seq(("y", 200, true)))
  }

  test("planner statistics subtract position tuples, clamped at zero") {
    makeTable("stats")
    val st = store("stats")
    val snap = st.head().get
    val fileRows = snap.files.map(_.rowCount).sum
    assert(spark.table("morsel.d.stats").queryExecution.optimizedPlan
      .stats.rowCount.contains(BigInt(fileRows - 2)))
    // two tuples against the one-row file set of partition c: clamped
    val onlyC = new GraftBatchScan(snap, st, snap.schema,
      Array(org.apache.spark.sql.sources.EqualTo("g", "c")))
    assert(onlyC.estimateStatistics().numRows().getAsLong ==
      math.max(0L, snap.files.filter(_.partitionValues("g") == "c")
        .map(_.rowCount).sum - 2))
    assert(onlyC.estimateStatistics().sizeInBytes().getAsLong >= 1L)
  }

  test("readStream.table tails a merge-on-read table with pending deletes") {
    makeTable("stream")
    val ck = Files.createTempDirectory("graft-morsel-ck").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val q = spark.readStream.table("morsel.d.stream")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select("id").collect().foreach(r => seen.add(r.getInt(0)))
        ()
      }
      .option("checkpointLocation", ck).start()
    try {
      q.processAllAvailable()
      // append-only tailing: the initial replay covers the append commit;
      // the DELETE commit is not an append and emits nothing
      assert(seen.asScala.toSet == (1 to 6).toSet)
      sql("INSERT INTO morsel.d.stream VALUES (7, 'a')")
      q.processAllAvailable()
      assert(seen.asScala.toSeq.sorted == (1 to 7))
    } finally q.stop()
  }
}
