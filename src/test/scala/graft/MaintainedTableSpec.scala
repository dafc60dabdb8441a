package graft

import graft.operators.Incremental
import graft.streaming.MaintainedTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class TestChange(k: Long, s: String, v: Double, seq: Long, op: String)

class MaintainedTableSpec extends SparkSpec {
  import spark.implicits._

  private def dir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_mtable_$tag").toString

  private def base = Seq(
    (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)
  ).toDF("k", "s", "v")

  private def feed(rows: (Long, String, Double, Long, String)*) =
    rows.toDF("k", "s", "v", "seq", "op")

  private def sorted(df: DataFrame) =
    df.select("k", "s", "v").as[(Long, String, Double)].collect()
      .sortBy(_._1).toSeq

  test("applyBatch: versions accumulate, final state == composed applyChangeLog") {
    val d = dir("apply")
    val f0 = feed((2L, "B", 21.0, 1L, "upsert"), (9L, "z", 90.0, 2L, "upsert"))
    val f1 = feed((9L, "-", 0.0, 1L, "delete"), (3L, "C", 33.0, 2L, "upsert"))
    val s0 = MaintainedTable.applyBatch(base, f0, Seq("k"),
      Seq(col("seq")), d, "run-a", 0L)
    val s1 = MaintainedTable.applyBatch(base, f1, Seq("k"),
      Seq(col("seq")), d, "run-a", 1L)
    assert(MaintainedTable.versions(spark, d) === Seq(0L, 1L))
    val composed = Incremental.applyChangeLog(
      Incremental.applyChangeLog(base, f0, Seq("k"), Seq(col("seq"))),
      f1, Seq("k"), Seq(col("seq")))
    assert(sorted(s1) === sorted(composed))
    // time travel: v=0 is the post-batch-0 snapshot, untouched by batch 1
    assert(sorted(MaintainedTable.readVersion(spark, d, 0L)) === sorted(s0))
  }

  test("sequential per-batch apply == one-shot apply of the unioned feed") {
    val d = dir("compose")
    val f0 = feed((2L, "B", 21.0, 1L, "upsert"), (4L, "d", 40.0, 2L, "upsert"))
    val f1 = feed((2L, "-", 0.0, 3L, "delete"), (9L, "z", 90.0, 4L, "upsert"))
    MaintainedTable.applyBatch(base, f0, Seq("k"), Seq(col("seq")), d, "r", 0L)
    val twoStep = MaintainedTable.applyBatch(base, f1, Seq("k"),
      Seq(col("seq")), d, "r", 1L)
    val oneShot = Incremental.applyChangeLog(base, f0.unionByName(f1),
      Seq("k"), Seq(col("seq")))
    assert(sorted(twoStep) === sorted(oneShot))
  }

  test("at-least-once replay of a committed batch is a no-op") {
    val d = dir("replay")
    val f0 = feed((2L, "B", 21.0, 1L, "upsert"))
    val once = MaintainedTable.applyBatch(base, f0, Seq("k"),
      Seq(col("seq")), d, "r", 0L)
    // replay with a DIFFERENT (corrupt) batch payload: the committed
    // version must win — state comes from v=0, not a re-application
    val replay = MaintainedTable.applyBatch(base,
      feed((2L, "WRONG", -1.0, 9L, "upsert")), Seq("k"),
      Seq(col("seq")), d, "r", 0L)
    assert(sorted(replay) === sorted(once))
    assert(MaintainedTable.versions(spark, d) === Seq(0L))
  }

  test("run-id marker: a different run against surviving state fails loudly") {
    val d = dir("runid")
    MaintainedTable.applyBatch(base, feed((2L, "B", 21.0, 1L, "upsert")),
      Seq("k"), Seq(col("seq")), d, "run-a", 0L)
    val e = intercept[IllegalStateException] {
      MaintainedTable.applyBatch(base, feed((3L, "C", 31.0, 1L, "upsert")),
        Seq("k"), Seq(col("seq")), d, "run-b", 0L)
    }
    assert(e.getMessage.contains("run-a"))
  }

  test("vacuum drops old versions, never the latest; reads of vacuumed fail loudly") {
    val d = dir("vacuum")
    (0L to 3L).foreach { b =>
      MaintainedTable.applyBatch(base,
        feed((2L, s"b$b", b.toDouble, 1L, "upsert")),
        Seq("k"), Seq(col("seq")), d, "r", b)
    }
    val dropped = MaintainedTable.vacuum(spark, d, keepLast = 2)
    assert(dropped === Seq(0L, 1L))
    assert(MaintainedTable.versions(spark, d) === Seq(2L, 3L))
    intercept[IllegalArgumentException] {
      MaintainedTable.readVersion(spark, d, 0L)
    }
    assert(sorted(MaintainedTable.latest(spark, d).get._2)
      .exists(_._2 == "b3"))
  }

  // ---- partitioned variant: batch cost tracks the delta ----

  private def partDirs(tableDir: String, version: Long): Seq[String] = {
    val d = new java.io.File(
      f"$tableDir/v=$version%06d/data")
    if (!d.exists()) Seq.empty
    else d.listFiles().filter(_.isDirectory).map(_.getName).toSeq.sorted
  }

  test("partitioned: correctness matches composed applyChangeLog; only touched partitions written") {
    val d = dir("part")
    val keys = Seq("k")
    val f0 = feed((2L, "B", 21.0, 1L, "upsert"), (9L, "z", 90.0, 2L, "upsert"))
    val f1 = feed((9L, "-", 0.0, 1L, "delete"))
    MaintainedTable.bootstrap(base, keys, d, "r", nParts = 8)
    MaintainedTable.applyBatchPartitioned(f0, keys, Seq(col("seq")),
      d, "r", 0L, nParts = 8)
    MaintainedTable.applyBatchPartitioned(f1, keys, Seq(col("seq")),
      d, "r", 1L, nParts = 8)
    val composed = Incremental.applyChangeLog(
      Incremental.applyChangeLog(base, f0, keys, Seq(col("seq"))),
      f1, keys, Seq(col("seq")))
    assert(sorted(MaintainedTable.snapshotAt(spark, d, 2L)) ===
      sorted(composed))
    // the incrementality witness: batch 1 touched ONE key (9) — its
    // version must hold at most one partition dir, and strictly fewer
    // than the bootstrap's
    val v0 = partDirs(d, 0L); val v2 = partDirs(d, 2L)
    assert(v2.size <= 1, s"delete-only batch wrote ${v2.size} partitions")
    assert(v0.size > v2.size)
    // time travel across partitioned versions
    assert(sorted(MaintainedTable.snapshotAt(spark, d, 1L)) ===
      sorted(Incremental.applyChangeLog(base, f0, keys, Seq(col("seq")))))
  }

  test("partitioned: replay of a committed batch is a no-op; empty batch commits densely") {
    val d = dir("partreplay")
    val keys = Seq("k")
    MaintainedTable.bootstrap(base, keys, d, "r", nParts = 4)
    MaintainedTable.applyBatchPartitioned(
      feed((2L, "B", 21.0, 1L, "upsert")), keys, Seq(col("seq")),
      d, "r", 0L, nParts = 4)
    val once = sorted(MaintainedTable.snapshotAt(spark, d, 1L))
    MaintainedTable.applyBatchPartitioned(
      feed((2L, "WRONG", -1.0, 9L, "upsert")), keys, Seq(col("seq")),
      d, "r", 0L, nParts = 4)
    assert(sorted(MaintainedTable.snapshotAt(spark, d, 1L)) === once)
    // empty batch: version 2 commits with the table unchanged
    MaintainedTable.applyBatchPartitioned(
      feed().filter(col("k") < 0), keys, Seq(col("seq")),
      d, "r", 1L, nParts = 4)
    assert(MaintainedTable.committedVersions(spark, d) === Seq(0L, 1L, 2L))
    assert(sorted(MaintainedTable.snapshotAt(spark, d, 2L)) === once)
  }

  test("partitioned: sequential per-batch apply == one-shot apply of the unioned feed") {
    val d = dir("partcompose")
    val keys = Seq("k")
    val f0 = feed((2L, "B", 21.0, 1L, "upsert"), (4L, "d", 40.0, 2L, "upsert"))
    val f1 = feed((2L, "-", 0.0, 3L, "delete"), (9L, "z", 90.0, 4L, "upsert"))
    MaintainedTable.bootstrap(base, keys, d, "r", nParts = 4)
    MaintainedTable.applyBatchPartitioned(f0, keys, Seq(col("seq")),
      d, "r", 0L, nParts = 4)
    MaintainedTable.applyBatchPartitioned(f1, keys, Seq(col("seq")),
      d, "r", 1L, nParts = 4)
    val oneShot = Incremental.applyChangeLog(base, f0.unionByName(f1),
      keys, Seq(col("seq")))
    assert(sorted(MaintainedTable.snapshotAt(spark, d, 2L)) ===
      sorted(oneShot))
  }

  test("partitioned: a different run against surviving state fails loudly") {
    val d = dir("partrunid")
    val keys = Seq("k")
    MaintainedTable.bootstrap(base, keys, d, "run-a", nParts = 4)
    MaintainedTable.applyBatchPartitioned(
      feed((2L, "B", 21.0, 1L, "upsert")), keys, Seq(col("seq")),
      d, "run-a", 0L, nParts = 4)
    val e = intercept[IllegalStateException] {
      MaintainedTable.applyBatchPartitioned(
        feed((3L, "C", 31.0, 1L, "upsert")), keys, Seq(col("seq")),
        d, "run-b", 0L, nParts = 4)
    }
    assert(e.getMessage.contains("run-a"))
  }

  test("partitioned: empty initial bootstraps via the schema anchor; inserts land") {
    val d = dir("partempty")
    val keys = Seq("k")
    MaintainedTable.bootstrap(base.filter(col("k") < 0), keys, d, "r",
      nParts = 4)
    assert(sorted(MaintainedTable.snapshotAt(spark, d, 0L)) === Seq.empty)
    MaintainedTable.applyBatchPartitioned(
      feed((7L, "n", 70.0, 1L, "upsert")), keys, Seq(col("seq")),
      d, "r", 0L, nParts = 4)
    assert(sorted(MaintainedTable.snapshotAt(spark, d, 1L)) ===
      Seq((7L, "n", 70.0)))
  }

  test("partitioned lifecycle: compact folds history, vacuum reclaims only unreferenced versions") {
    val d = dir("partcompact")
    val keys = Seq("k")
    MaintainedTable.bootstrap(base, keys, d, "r", nParts = 8)
    MaintainedTable.applyBatchPartitioned(
      feed((2L, "B", 21.0, 1L, "upsert")), keys, Seq(col("seq")),
      d, "r", 0L, nParts = 8)
    val before = sorted(MaintainedTable.snapshotAt(spark, d, 1L))
    // v=0 still holds the CURRENT copy of untouched partitions, so
    // reference-based vacuum must NOT drop it even when only the
    // newest manifest is kept
    assert(MaintainedTable.vacuumPartitioned(spark, d, keepLast = 1)
      === Seq.empty)
    val cv = MaintainedTable.compact(spark, d, "r", keys, nParts = 8)
    assert(cv === 2L)
    assert(sorted(MaintainedTable.snapshotAt(spark, d, cv)) === before)
    // post-compact, nothing older is referenced — vacuum reclaims all
    assert(MaintainedTable.vacuumPartitioned(spark, d, keepLast = 1)
      === Seq(0L, 1L))
    assert(MaintainedTable.committedVersions(spark, d) === Seq(2L))
    intercept[IllegalArgumentException] { // a vacuumed version fails loudly
      MaintainedTable.snapshotAt(spark, d, 0L)
    }
    assert(sorted(MaintainedTable.latestPartitioned(spark, d).get._2)
      === before)
  }

  test("partitioned streaming end-to-end: only delta partitions rewrite per batch") {
    implicit val ctx = spark.sqlContext
    val d = dir("partstream")
    val in = MemoryStream[TestChange]
    val q = MaintainedTable.maintainPartitioned(in.toDF(), base, Seq("k"),
      Seq(col("seq")), d, "stream-p", nParts = 8)()
    try {
      in.addData(TestChange(2L, "B", 21.0, 1L, "upsert"))
      q.processAllAvailable()
      in.addData(TestChange(1L, "A", 11.0, 1L, "upsert"),
        TestChange(9L, "z", 90.0, 2L, "upsert"))
      q.processAllAvailable()
    } finally q.stop()
    val (v, fin) = MaintainedTable.latestPartitioned(spark, d).get
    assert(v === 2L)
    assert(sorted(fin) === Seq((1L, "A", 11.0), (2L, "B", 21.0),
      (3L, "c", 30.0), (9L, "z", 90.0)))
    // batch 0 touched one key — one partition dir in v=1
    assert(partDirs(d, 1L).size === 1)
  }

  test("streaming end-to-end: maintained table tracks the change stream") {
    implicit val ctx = spark.sqlContext
    val d = dir("stream")
    val in = MemoryStream[TestChange]
    val q = MaintainedTable.maintain(in.toDF(), base, Seq("k"),
      Seq(col("seq")), d, "stream-run")()
    try {
      in.addData(TestChange(2L, "B", 21.0, 1L, "upsert"),
        TestChange(9L, "z", 90.0, 2L, "upsert"))
      q.processAllAvailable()
      in.addData(TestChange(9L, "-", 0.0, 1L, "delete"),
        TestChange(1L, "A", 11.0, 2L, "upsert"))
      q.processAllAvailable()
    } finally q.stop()
    val fin = MaintainedTable.latest(spark, d).get._2
    assert(sorted(fin) === Seq((1L, "A", 11.0), (2L, "B", 21.0),
      (3L, "c", 30.0)))
    // every micro-batch left a committed, time-travelable snapshot
    assert(MaintainedTable.versions(spark, d).size === 2)
  }
}
