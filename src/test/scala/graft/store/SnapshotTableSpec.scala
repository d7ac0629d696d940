package graft.store

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class SnapshotTableSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def tmpRoot(): String =
    Files.createTempDirectory("snaptest").toString

  test("commit → read round-trips; versions are immutable (time travel)") {
    val t = new SnapshotTable(spark, tmpRoot(), "t")
    val v0 = t.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    val v1 = t.commit(Seq((3L, "c")).toDF("k", "s"))
    assert(v0 == 0 && v1 == 1)
    assert(t.currentVersion.contains(1L))
    assert(t.read().collect().map(_.getLong(0)).sorted.toSeq == Seq(3L))
    assert(t.read(v0).collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("empty DataFrame commits and reads back with schema") {
    val t = new SnapshotTable(spark, tmpRoot(), "t")
    t.commit(Seq.empty[(Long, String)].toDF("k", "s"))
    val back = t.read()
    assert(back.count() == 0)
    assert(back.columns.toSeq == Seq("k", "s"))
  }

  test("a table with no commit refuses every read with one message") {
    val t = new SnapshotTable(spark, tmpRoot(), "t")
    for (read <- Seq(() => t.read(), () => t.readPruned("k", 0, 1),
                     () => t.prunedFileCount("k", 0, 1))) {
      val e = intercept[IllegalStateException](read())
      assert(e.getMessage == "table t has no committed version")
    }
  }

  test("manifest stats prune files by range") {
    val t = new SnapshotTable(spark, tmpRoot(), "t")
    // 8 files, each covering a disjoint k range
    val df = spark.range(0, 800).select(col("id").as("k"))
      .repartitionByRange(8, col("k"))
    t.commit(df)
    val total = 8
    val pruned = t.prunedFileCount("k", 10, 20)
    assert(pruned < total, s"expected pruning, still reading $pruned/$total files")
    val rows = t.readPruned("k", 10, 20).collect().map(_.getLong(0)).sorted
    assert(rows.toSeq == (10L to 20L))
  }

  test("read() honors the MANIFEST's bucket layout, not the handle's config") {
    val root = tmpRoot()
    // v0 written PRE-bucketing (plain parquet, no bucket metadata)
    val plain = new SnapshotTable(spark, root, "t")
    plain.commit(Seq((1L, "a"), (2L, "b")).toDF("urlHash", "s"))
    // v1 written with 4 buckets: the session's shuffle width at commit
    val b4 = new SnapshotTable(spark, root, "t", bucketKey = Some("urlHash"))
    TestSpark.withShufflePartitions(4) {
      b4.commit(Seq((3L, "c"), (4L, "d")).toDF("urlHash", "s"))
    }
    // resume in a session whose shuffle width is a DIFFERENT 8: v0 must
    // read as plain parquet (no 'Invalid bucket file'), v1 must register
    // with ITS four buckets — a false 8-bucket HashPartitioning would
    // silently break the storage-partitioned anti-joins
    TestSpark.withShufflePartitions(8) {
      val resumed = new SnapshotTable(spark, root, "t", bucketKey = Some("urlHash"))
      assert(resumed.read(0L).collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
      val v1 = resumed.read(1L)
      assert(v1.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))
      // a groupBy on the bucket key must be satisfied by the scan's
      // HashPartitioning — and with the manifest's 4 buckets, not the
      // session's 8 (a false 8-bucket claim would also skip the shuffle,
      // but distribute rows wrongly; the count check above catches rows,
      // this pins the partitioning source)
      val agg = v1.groupBy("urlHash").count()
      agg.collect()
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.linesIterator.exists(_.contains("ShuffleQueryStage")),
        s"bucketed scan must satisfy the aggregate distribution:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"scan must actually run bucketed:\n$plan")
      assert(agg.rdd.getNumPartitions == 4,
        s"aggregate must run at the manifest's 4 buckets, got ${agg.rdd.getNumPartitions}")
    }
  }

  test("binary and map columns survive the round-trip") {
    val t = new SnapshotTable(spark, tmpRoot(), "t")
    val df = Seq((1L, Array[Byte](1, 2, 3), Map("a" -> 1.5))).toDF("k", "bits", "m")
    t.commit(df)
    val r = t.read().collect()(0)
    assert(r.getAs[Array[Byte]]("bits").toSeq == Seq[Byte](1, 2, 3))
    assert(r.getAs[Map[String, Double]]("m") == Map("a" -> 1.5))
  }
}
