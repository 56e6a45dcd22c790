package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.lake._

/** A malformed graft setting fails with an error that names its key — a
  * bare NumberFormatException leaves the user guessing which of the
  * session's settings is wrong. */
class ConfValuesSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.session

  private def withConf[A](key: String, value: String)(body: => A): A = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  private def assertNamesKey(key: String)(body: => Any): Unit = {
    val e = intercept[IllegalArgumentException](body)
    assert(e.getMessage.contains(key) && e.getMessage.contains("64MB"),
      s"error does not name $key and its value: ${e.getMessage}")
  }

  test("well-formed and absent values parse; the default applies when unset") {
    withConf("graft.test.n", "42") {
      assert(ConfValues.long(spark.conf, "graft.test.n", 7L) == 42L)
    }
    assert(ConfValues.long(spark.conf, "graft.test.n", 7L) == 7L)
  }

  test("graft.cow.driver-tuple-cap: a malformed value names the key on a MOR SELECT") {
    val wh = Files.createTempDirectory("graft-conf-wh").toString
    spark.conf.set("spark.sql.catalog.confspec", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.confspec.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS confspec.d")
    spark.sql("""CREATE TABLE confspec.d.t (id INT) USING graft
                 TBLPROPERTIES ('graft.delete-mode' = 'merge-on-read')""")
    spark.sql("INSERT INTO confspec.d.t VALUES (1), (2), (3)")
    spark.sql("DELETE FROM confspec.d.t WHERE id = 1 OR id = 3")
    assert(new SnapshotStore(Paths.get(wh, "d", "t")).head().get
      .deleteFiles.nonEmpty, "test setup: tuples must be pending")
    withConf(PositionDeletes.DriverTupleCapKey, "64MB") {
      assertNamesKey(PositionDeletes.DriverTupleCapKey) {
        spark.sql("SELECT id FROM confspec.d.t").collect()
      }
    }
    assert(spark.sql("SELECT id FROM confspec.d.t").collect()
      .map(_.getInt(0)).toSeq == Seq(2))
  }

  test("graft.mor.broadcast-max-bytes: a malformed value names the key") {
    val wh = Files.createTempDirectory("graft-conf-bc").toString
    val st = new SnapshotStore(Paths.get(wh, "t"))
    spark.conf.set("spark.sql.catalog.confbc", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.confbc.warehouse", wh)
    spark.sql("""CREATE TABLE confbc.t (id INT) USING graft
                 TBLPROPERTIES ('graft.delete-mode' = 'merge-on-read')""")
    spark.sql("INSERT INTO confbc.t VALUES (1), (2), (3)")
    spark.sql("DELETE FROM confbc.t WHERE id = 1 OR id = 3")
    val head = st.head().get
    withConf(PositionDeletes.BroadcastMaxBytesKey, "64MB") {
      assertNamesKey(PositionDeletes.BroadcastMaxBytesKey) {
        PositionDeletes.applySnapshotDeletes(spark, st,
          SchemaNames.readLogicalWithProvenance(spark, head.schema,
            head.files.map(f => st.tableDir.resolve(f.path).toString)),
          head)
      }
    }
  }

  test("graft.dedup.jaccard-broadcast-max-bytes: a malformed value names the key") {
    import spark.implicits._
    val docs = Seq((1L, "the quick brown fox"), (2L, "the quick brown dog"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    withConf(graft.operators.Dedup.JaccardBroadcastMaxBytesKey, "64MB") {
      assertNamesKey(graft.operators.Dedup.JaccardBroadcastMaxBytesKey) {
        graft.operators.Dedup.exactJaccard(docs, pairs, hintBroadcast = false)
      }
    }
  }
}
