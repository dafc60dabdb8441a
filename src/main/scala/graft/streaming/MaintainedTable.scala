package graft.streaming

import graft.operators.Incremental
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** A maintained TABLE driven by a change stream — the streaming closure
  * of [[graft.operators.Incremental]]: each micro-batch of change rows
  * (upserts + deletes) replays onto the current table state via
  * `applyChangeLog`, and each resulting state is written as an
  * immutable VERSION directory `v=%06d` (version = the foreachBatch
  * batch id) under one table root.
  *
  * Version-per-batch is the whole consistency story, from first
  * principles rather than a table-format dependency:
  *  - **exactly-once from at-least-once**: a replayed batch rewrites
  *    its own version directory (same inputs → same bytes) instead of
  *    double-applying — the MultiSink `batch_id=N` overwrite contract
  *    lifted to whole-table state;
  *  - **no read-overwrite hazard**: batch N reads `v=N-1` and writes
  *    `v=N` — never the directory it is reading — so the state never
  *    needs a `localCheckpoint` pin, which at 100 TB would materialize
  *    the whole table per batch;
  *  - **crash safety**: a version without `_SUCCESS` is ignored by the
  *    reader and overwritten by the replay;
  *  - **time travel for free**: every surviving version is a readable
  *    snapshot ([[readVersion]]); [[vacuum]] bounds retention.
  *
  * A `_run_id` marker file pins the state root to one logical query
  * (the heavyHittersBatches lesson, `StreamOps.scala:506-529`): a NEW
  * query restarts batch ids at 0, which version arithmetic alone would
  * misread as replays of the earliest batches — so a marker mismatch
  * fails loudly instead of silently serving stale state.
  *
  * Scale shape: per batch, one `applyChangeLog` (≤3 key-hash shuffles,
  * feed side AQE-broadcast when small) + one table write. The write IS
  * the cost of maintaining a table without a compacting format; at
  * 100 TB the production variants are (a) partition the table and
  * rewrite only partitions the batch touches (`partitionBy` on the
  * write + a feed-derived partition filter on the read), or (b) write
  * delta versions and fold on read — both compose from these same
  * pieces without changing the operator's contract.
  */
object MaintainedTable {

  private val VersionRe = "^v=(\\d{6})$".r

  private def versionPath(tableDir: String, version: Long): String =
    f"$tableDir/v=$version%06d"

  private def fileSystem(spark: SparkSession, tableDir: String) =
    new Path(tableDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Versions under `tableDir` whose directory holds `marker`, ascending. */
  private def versionsWith(spark: SparkSession, tableDir: String,
      marker: String): Seq[Long] = {
    val root = new Path(tableDir)
    val fs = fileSystem(spark, tableDir)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toIndexedSeq
      .filter(_.isDirectory)
      .flatMap(st => st.getPath.getName match {
        case VersionRe(v)
          if fs.exists(new Path(st.getPath, marker)) => Some(v.toLong)
        case _ => None
      }).sorted
  }

  /** Committed (has `_SUCCESS`) versions under `tableDir`, ascending. */
  def versions(spark: SparkSession, tableDir: String): Seq[Long] =
    versionsWith(spark, tableDir, "_SUCCESS")

  /** Snapshot at `version` — time travel. Fails loudly on an
    * uncommitted or vacuumed version. */
  def readVersion(spark: SparkSession, tableDir: String,
      version: Long): DataFrame = {
    require(versions(spark, tableDir).contains(version),
      s"maintained table $tableDir has no committed version $version " +
        s"(have: ${versions(spark, tableDir).mkString(",")})")
    spark.read.parquet(versionPath(tableDir, version))
  }

  /** Latest committed snapshot, if any version exists. */
  def latest(spark: SparkSession, tableDir: String): Option[(Long, DataFrame)] =
    versions(spark, tableDir).lastOption.map(v =>
      v -> spark.read.parquet(versionPath(tableDir, v)))

  /** Drop all but the newest `keepLast` committed versions (and any
    * uncommitted debris older than the newest). Returns the versions
    * deleted. Never touches the latest version. */
  def vacuum(spark: SparkSession, tableDir: String,
      keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, s"vacuum keepLast must be >= 1, got $keepLast")
    val vs = versions(spark, tableDir)
    val doomed = vs.dropRight(keepLast)
    val fs = fileSystem(spark, tableDir)
    doomed.foreach(v => fs.delete(new Path(versionPath(tableDir, v)), true))
    doomed
  }

  private def checkRunId(spark: SparkSession, tableDir: String,
      runId: String): Unit = {
    val root = new Path(tableDir)
    val fs = fileSystem(spark, tableDir)
    val marker = new Path(root, "_run_id")
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val stored = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      if (stored != runId) throw new IllegalStateException(
        s"maintained table at $tableDir belongs to run '$stored', not " +
          s"'$runId': version arithmetic cannot distinguish a fresh " +
          "query's early batches from replays, so refusing to apply — " +
          "wipe the table dir for a new query, or resume with the " +
          "original runId")
    } else {
      fs.mkdirs(root)
      val out = fs.create(marker, true)
      try out.write(runId.getBytes("UTF-8")) finally out.close()
    }
  }

  /** The per-batch apply step, exposed so specs (and non-streaming
    * callers with their own batch loop) can drive it directly:
    * idempotent in `batchId`. Returns the state now current. */
  def applyBatch(initial: DataFrame, batch: DataFrame, keys: Seq[String],
      ord: Seq[Column], tableDir: String, runId: String, batchId: Long,
      opCol: String = "op", deleteOp: String = "delete"): DataFrame = {
    val spark = batch.sparkSession
    checkRunId(spark, tableDir, runId)
    val done = versions(spark, tableDir)
    if (done.contains(batchId)) // at-least-once replay: state unchanged
      readVersion(spark, tableDir, batchId)
    else {
      val prev = done.filter(_ < batchId).lastOption
        .map(v => readVersion(spark, tableDir, v)).getOrElse(initial)
      val next = Incremental.applyChangeLog(prev, batch, keys, ord,
        opCol, deleteOp)
      next.write.mode("overwrite").parquet(versionPath(tableDir, batchId))
      readVersion(spark, tableDir, batchId)
    }
  }

  // -------------------------------------------------------------------
  // Partitioned variant: batch cost tracks the DELTA, not the table.
  //
  // The flat applyBatch rewrites the whole table per batch — correct,
  // but at 100 TB the write dominates. Here the table is hash-
  // partitioned on the key into `nParts` fixed buckets; each version
  // stores ONLY the partitions its batch touched, plus a manifest
  // (≤ nParts rows) mapping every partition to the version that last
  // wrote it. A batch reads just the touched partitions (resolved
  // through the manifest, partition-pruned), applies the change log to
  // those rows alone, writes them as `v=V/data/part=H/` dirs, and
  // points the new manifest's untouched entries at their old versions.
  // Cost per batch: O(delta keys · table/nParts), independent of total
  // table size once nParts spreads the keys. The `_COMMIT` marker
  // (written after data + manifest) is the atomicity point; version =
  // batch id + 1 keeps the replay-idempotency contract (version 0 is
  // the bootstrap).
  // -------------------------------------------------------------------

  private val PartCol = "__part"

  private def partExpr(keys: Seq[String], nParts: Int) =
    pmod(hash(keys.map(col): _*), lit(nParts))

  /** Write version `version`'s manifest, then its `_COMMIT` marker. */
  private def commit(manifest: DataFrame, tableDir: String,
      version: Long): Unit = {
    val vp = versionPath(tableDir, version)
    manifest.coalesce(1).write.mode("overwrite").parquet(s"$vp/_manifest")
    fileSystem(manifest.sparkSession, tableDir)
      .create(new Path(vp, "_COMMIT"), true).close()
  }

  /** Commit `state` as a FULL version: every partition stored, and a
    * manifest pointing all `nParts` of them at `version`. */
  private def commitFull(state: DataFrame, keys: Seq[String],
      tableDir: String, version: Long, nParts: Int): Unit = {
    state.withColumn(PartCol, partExpr(keys, nParts))
      .write.mode("overwrite").partitionBy(PartCol)
      .parquet(s"${versionPath(tableDir, version)}/data")
    commit(state.sparkSession.range(nParts.toLong)
      .select(col("id").as("part"), lit(version).as("ver")), tableDir, version)
  }

  /** Committed versions of a PARTITIONED maintained table, ascending
    * (gated on `_COMMIT`, which lands after data AND manifest). */
  def committedVersions(spark: SparkSession, tableDir: String): Seq[Long] =
    versionsWith(spark, tableDir, "_COMMIT")

  /** The bootstrap's 0-row schema-bearing frame — the read of last
    * resort when every relevant stored partition is empty. */
  private def schemaAnchor(spark: SparkSession, tableDir: String): DataFrame =
    spark.read.parquet(s"${versionPath(tableDir, 0L)}/_schema")

  private def manifestOf(spark: SparkSession, tableDir: String,
      version: Long): Map[Long, Long] =
    spark.read.parquet(s"${versionPath(tableDir, version)}/_manifest")
      .select(col("part"), col("ver"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** A version's data dir is READABLE iff some partition dir landed in
    * it — a delete-only batch can legally write an empty version (just
    * `_SUCCESS`), whose partitions are then simply empty. */
  private def readableData(spark: SparkSession, tableDir: String,
      ver: Long): Option[DataFrame] = {
    val dp = new Path(s"${versionPath(tableDir, ver)}/data")
    val fs = fileSystem(spark, tableDir)
    if (fs.exists(dp) && fs.listStatus(dp).exists(st =>
        st.isDirectory && st.getPath.getName.startsWith(s"$PartCol=")))
      Some(spark.read.parquet(dp.toString))
    else None
  }

  /** The table as of `version`: every partition read from the version
    * that last wrote it (manifest-resolved, one pruned read per
    * distinct storing version). This IS the partitioned time travel;
    * it fails loudly on an uncommitted or vacuumed version. */
  def snapshotAt(spark: SparkSession, tableDir: String,
      version: Long): DataFrame = {
    require(committedVersions(spark, tableDir).contains(version),
      s"partitioned table $tableDir has no committed version $version")
    val byVer = manifestOf(spark, tableDir, version)
      .groupBy(_._2).view.mapValues(_.keys.toSeq).toMap
    val legs = byVer.toSeq.sortBy(_._1).flatMap { case (ver, parts) =>
      readableData(spark, tableDir, ver)
        .map(_.filter(col(PartCol).isin(parts: _*)))
    }
    if (legs.isEmpty) schemaAnchor(spark, tableDir) // fully empty table
    else legs.reduce(_ unionByName _).drop(PartCol)
  }

  /** Latest committed partitioned snapshot, if bootstrapped. */
  def latestPartitioned(spark: SparkSession,
      tableDir: String): Option[(Long, DataFrame)] =
    committedVersions(spark, tableDir).lastOption
      .map(v => v -> snapshotAt(spark, tableDir, v))

  /** Version 0: materialize `initial` across ALL partitions with a
    * full manifest. Must run once before any [[applyBatchPartitioned]];
    * idempotent (a committed bootstrap is not rewritten). */
  def bootstrap(initial: DataFrame, keys: Seq[String], tableDir: String,
      runId: String, nParts: Int): Unit = {
    val spark = initial.sparkSession
    checkRunId(spark, tableDir, runId)
    if (!committedVersions(spark, tableDir).contains(0L)) {
      // schema anchor: a 0-row unpartitioned parquet, so an empty
      // table (empty initial, or delete-only history) stays readable
      initial.limit(0).coalesce(1).write.mode("overwrite")
        .parquet(s"${versionPath(tableDir, 0L)}/_schema")
      commitFull(initial, keys, tableDir, 0L, nParts)
    }
  }

  /** Apply one change batch to the partitioned table: reads ONLY the
    * partitions the batch's keys hash into, writes only those back.
    * Version = batchId + 1; a replayed batch finds its version
    * committed and does nothing. `nParts` must match the bootstrap. */
  def applyBatchPartitioned(batch: DataFrame, keys: Seq[String],
      ord: Seq[Column], tableDir: String, runId: String, batchId: Long,
      nParts: Int, opCol: String = "op",
      deleteOp: String = "delete"): Unit = {
    val spark = batch.sparkSession
    checkRunId(spark, tableDir, runId)
    val version = batchId + 1
    val done = committedVersions(spark, tableDir)
    require(done.contains(0L),
      s"partitioned table $tableDir is not bootstrapped (no v=000000)")
    if (!done.contains(version)) {
      import spark.implicits._
      val prev = done.filter(_ < version).last
      val manifest = manifestOf(spark, tableDir, prev)
      // ≤ nParts values — a bounded collect by construction
      val touched = batch
        .select(partExpr(keys, nParts).cast("long").as("p"))
        .distinct().collect().map(_.getLong(0)).sorted
      val newManifest =
        if (touched.isEmpty) manifest.toSeq // empty batch: version
        else { // numbering stays dense for replay idempotency
          val current = touched.groupBy(manifest).toSeq.sortBy(_._1)
            .flatMap { case (ver, parts) =>
              readableData(spark, tableDir, ver)
                .map(_.filter(col(PartCol).isin(parts.toIndexedSeq: _*))
                  .drop(PartCol))
            }
          val currentDf =
            if (current.isEmpty) schemaAnchor(spark, tableDir)
            else current.reduce(_ unionByName _)
          val next = Incremental.applyChangeLog(
            currentDf, batch, keys, ord, opCol, deleteOp)
          next.withColumn(PartCol, partExpr(keys, nParts))
            .write.mode("overwrite").partitionBy(PartCol)
            .parquet(s"${versionPath(tableDir, version)}/data")
          manifest.toSeq.filterNot(kv => touched.contains(kv._1)) ++
            touched.toIndexedSeq.map(_ -> version)
        }
      commit(newManifest.toDF("part", "ver"), tableDir, version)
    }
  }

  /** Compaction: rewrite the CURRENT state as one fresh full version
    * (every partition stored, full manifest), so reads stop fanning
    * across the version history and [[vacuumPartitioned]] can then
    * reclaim every older version. The lifecycle is bootstrap →
    * applyBatchPartitioned* → compact (when the manifest references too
    * many versions) → vacuumPartitioned. Occupies the next version slot
    * after the latest commit — run it between batches (same
    * single-writer discipline as the apply path). Returns the compacted
    * version number. */
  def compact(spark: SparkSession, tableDir: String, runId: String,
      keys: Seq[String], nParts: Int): Long = {
    checkRunId(spark, tableDir, runId)
    val done = committedVersions(spark, tableDir)
    require(done.nonEmpty, s"nothing to compact at $tableDir")
    val latest = done.last
    val version = latest + 1
    commitFull(snapshotAt(spark, tableDir, latest), keys, tableDir,
      version, nParts)
    version
  }

  /** Retention for the partitioned table: drop committed versions no
    * longer referenced by any of the newest `keepLast` manifests (a
    * version may hold the CURRENT copy of an untouched partition long
    * after newer versions exist — reference-based retention, not
    * age-based, so a drop can never orphan a live partition). Returns
    * the versions deleted. */
  def vacuumPartitioned(spark: SparkSession, tableDir: String,
      keepLast: Int): Seq[Long] = {
    require(keepLast >= 1,
      s"vacuumPartitioned keepLast must be >= 1, got $keepLast")
    val vs = committedVersions(spark, tableDir)
    val kept = vs.takeRight(keepLast)
    val live = kept.flatMap(v => manifestOf(spark, tableDir, v).values)
      .toSet ++ kept
    val doomed = vs.filterNot(live)
    val fs = fileSystem(spark, tableDir)
    doomed.foreach(v => fs.delete(new Path(versionPath(tableDir, v)), true))
    doomed
  }

  /** Start the partitioned maintained-table query. `initial` is
    * bootstrapped on the first batch if needed; each micro-batch then
    * rewrites only its touched partitions. `sink` receives the current
    * snapshot + version after each commit. `metricsDir` records one
    * StreamMetrics row per micro-batch. */
  def maintainPartitioned(stream: DataFrame, initial: DataFrame,
      keys: Seq[String], ord: Seq[Column], tableDir: String,
      runId: String, nParts: Int, opCol: String = "op",
      deleteOp: String = "delete", metricsDir: Option[String] = None)(
      sink: (DataFrame, Long) => Unit = (_, _) => ()): StreamingQuery =
    StreamMetrics.writeStream(stream, "graft_maintained_p_", metricsDir)
      .outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        bootstrap(initial, keys, tableDir, runId, nParts)
        applyBatchPartitioned(batch, keys, ord, tableDir, runId, batchId,
          nParts, opCol, deleteOp)
        sink(snapshotAt(batch.sparkSession, tableDir, batchId + 1),
          batchId + 1)
        ()
    }.start()

  /** Start the maintained-table query: `stream` carries change rows
    * (payload columns aligned with `initial`, plus `opCol`), `ord`
    * orders ops within a key within a batch (latest wins). `sink`
    * receives each committed snapshot + its version. `metricsDir`
    * records one StreamMetrics row per micro-batch. */
  def maintain(stream: DataFrame, initial: DataFrame, keys: Seq[String],
      ord: Seq[Column], tableDir: String, runId: String,
      opCol: String = "op", deleteOp: String = "delete",
      metricsDir: Option[String] = None)(
      sink: (DataFrame, Long) => Unit = (_, _) => ()): StreamingQuery =
    StreamMetrics.writeStream(stream, "graft_maintained_", metricsDir)
      .outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val state = applyBatch(initial, batch, keys, ord, tableDir,
          runId, batchId, opCol, deleteOp)
        sink(state, batchId)
        ()
    }.start()
}
