package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.StructType

/** The trip row as a typed case class — the typed-Dataset face of
  * [[TaxiSchema]] (SURVEY.md §1.3's Dataset[T] offering). Field names
  * match the schema's columns EXACTLY so `.as[Trip]` binds by name;
  * every field is an Option because the TLC data null-fills freely
  * under PERMISSIVE parsing (a bare Double would throw on the first
  * null at deserialization time, not at analysis time). The encoder's
  * schema is structurally TaxiSchema.schema — spec-asserted, so the
  * case class cannot drift from the shared definition the way the
  * reference's two hand-declared copies could. */
final case class Trip(
    VendorID: Option[Int],
    tpep_pickup_datetime: Option[java.sql.Timestamp],
    tpep_dropoff_datetime: Option[java.sql.Timestamp],
    passenger_count: Option[Double],
    trip_distance: Option[Double],
    RatecodeID: Option[Double],
    store_and_fwd_flag: Option[String],
    PULocationID: Option[Int],
    DOLocationID: Option[Int],
    payment_type: Option[Int],
    fare_amount: Option[Double],
    extra: Option[Double],
    mta_tax: Option[Double],
    tip_amount: Option[Double],
    tolls_amount: Option[Double],
    improvement_surcharge: Option[Double],
    total_amount: Option[Double],
    congestion_surcharge: Option[Double],
    Airport_fee: Option[Double])

/** Batch sources and sinks (SURVEY.md §2.1 S1, S3, S4, S10): explicit
  * schemas always (inference disabled, the reference's deliberate choice
  * — producer/ProducerOperations.scala:21); writers are the multi-format
  * sink contract of the consumer (json/parquet/csv from config,
  * application.conf:90).
  */
object Sources {

  /** The reference's CSV scan contract (producer/ProducerOperations
    * .scala:75-85): header, separator, quote/escape, PERMISSIVE parse,
    * empty-string nulls, explicit timestamp/date formats. */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
      sep: String = ",",
      timestampFormat: String = "yyyy-MM-dd HH:mm:ss",
      dateFormat: String = "yyyy-MM-dd"): DataFrame =
    spark.read
      .option("header", "true")
      .option("sep", sep)
      .option("quote", "\"")
      .option("escape", "\"")
      .option("mode", "PERMISSIVE")
      .option("nullValue", "")
      .option("timestampFormat", timestampFormat)
      .option("dateFormat", dateFormat)
      .schema(schema)
      .csv(path)

  /** The taxi CSV scan as a typed `Dataset[Trip]` — [[readCsv]] with
    * the shared schema, bound to the case class by name. Use where
    * compile-time field access / typed transforms pay their encoder
    * cost (filters and aggregations on a handful of columns stay
    * faster as DataFrame ops — untyped column pruning reaches the
    * scan; a typed `.map` materializes every field). */
  def readTripsTyped(spark: SparkSession, path: String): Dataset[Trip] = {
    import spark.implicits._
    readCsv(spark, path, TaxiSchema.schema).as[Trip]
  }

  /** JSON-lines scan with explicit schema (the wire format of the
    * reference's inter-process bus, consumer/FileReader.scala:59-63,
    * batch form). */
  def readJson(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Multi-format batch sink (consumer/StreamProcessor.scala:156-184):
    * format is data, not code. Overwrite by default — append-mode
    * output paths should be keyed by batch/run id for idempotency (see
    * graft.streaming.MultiSink). */
  def write(df: DataFrame, path: String, format: String = "parquet",
      mode: String = "overwrite", partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.format(format).mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .save(path)
  }

  /** One-file JSON-lines drop (producer/FileSender.scala:117-132's
    * contract): a single file per call, for file-drop streaming
    * simulation. Executor-side write — never collects rows. */
  def writeJsonBatch(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").json(path)

  /** Small-file compaction: rewrite a dataset into files of
    * ~targetMB each. Streaming sinks and fine-grained batch writes
    * produce file sprawl (one micro-batch = N part files); at 100 TB
    * the resulting listing/footer overhead dominates scan setup and
    * the NameNode-equivalent metadata. Sizing comes from the actual
    * on-disk bytes, not a guess; the rewrite is a plain repartition —
    * no data transformation, safe to run anytime. Writes to a NEW
    * directory (an in-place rewrite that fails mid-way would destroy
    * the input).
    */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      targetMB: Int = 128, format: String = "parquet"): Long = {
    val path = new org.apache.hadoop.fs.Path(inDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(path).getLength
    // ceiling, not floor: flooring makes files up to 2x the target
    val target = targetMB.toLong << 20
    val parts = math.max(1L, (bytes + target - 1) / target).toInt
    spark.read.format(format).load(inDir)
      .repartition(parts)
      .write.format(format).mode("overwrite").save(outDir)
    parts.toLong
  }

  /** Bucketed table write: pre-shuffles ONCE at write time so every
    * later equi-join or aggregation on the bucket key runs with NO
    * exchange — the co-located-join strategy for fact tables that are
    * joined on the same key repeatedly (at 100 TB, amortizing one
    * shuffle across every downstream job is the single biggest join
    * cost lever). Requires saveAsTable (bucket metadata lives in the
    * catalog). Readers must keep spark.sql.sources.bucketing.enabled
    * (default true) and matching bucket counts on both sides.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      nBuckets: Int, sortCol: Option[String] = None): Unit =
    writeBucketed(df, table, Seq(bucketCol), nBuckets, sortCol.toSeq)

  /** Multi-column bucketing — for composite join keys (e.g. a signature
    * index probed on (band, bv)): bucket on ALL the keys so the stored
    * partitioning matches the join's required distribution exactly and
    * the index side plans with zero exchanges. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      nBuckets: Int, sortCols: Seq[String]): Unit = {
    require(bucketCols.nonEmpty, "need at least one bucket column")
    val w = df.write.format("parquet").mode("overwrite")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.isEmpty) w else w.sortBy(sortCols.head, sortCols.tail: _*))
      .saveAsTable(table)
  }

  /** Write with observed data-quality metrics: attaches an Observation
    * to the frame so the write action ALSO reports row count and
    * per-column null counts — computed in-flight by the same job, zero
    * extra scans (the audit pattern for pipeline writes; a second
    * count()/filter pass at 100 TB is a second pass over 100 TB).
    * Returns the metric map keyed `rows` and `nulls_<col>`.
    */
  def writeObserved(df: DataFrame, path: String,
      nullCheckCols: Seq[String],
      format: String = "parquet"): Map[String, Long] = {
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions.{count, lit, sum, when, col => c}
    val obs = Observation()
    val metrics = count(lit(1)).as("rows") +:
      nullCheckCols.map(n =>
        sum(when(c(n).isNull, 1L).otherwise(0L)).as(s"nulls_$n"))
    df.observe(obs, metrics.head, metrics.tail: _*)
      .write.format(format).mode("overwrite").save(path)
    obs.get.map { case (k, v) => k -> v.asInstanceOf[Long] }
  }

  /** Format converter (data/transform.ipynb's parquet->CSV step, S10,
    * done distributed): read any supported format, write any other. */
  def convert(spark: SparkSession, inPath: String, inFormat: String,
      outPath: String, outFormat: String,
      schema: Option[StructType] = None): Unit = {
    // CSV input follows the same parse contract as readCsv — without
    // header=true the header line would land in the output as a
    // garbage all-null row
    val r0 = spark.read.format(inFormat)
    val r =
      if (inFormat == "csv")
        r0.option("header", "true").option("mode", "PERMISSIVE")
          .option("nullValue", "")
          .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
          .option("dateFormat", "yyyy-MM-dd")
      else r0
    val df = schema.map(r.schema(_)).getOrElse(r).load(inPath)
    df.write.format(outFormat).mode("overwrite")
      .option("header", "true").save(outPath)
  }
}
