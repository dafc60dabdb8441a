package graft

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types._

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * All engine operators take DataFrames; this is the only place that
  * binds them to the on-disk parquet star schema. Each table's schema
  * is declared here, as the reference declares its trip schema
  * (reference: producer/ProducerOperations.scala:21), so a read plans
  * without a Spark job: a read that infers runs one job per call to
  * read the parquet footers. Each declaration is exactly the schema
  * Spark infers from the fixtures (ContractsSpec), every field
  * nullable; the three timestamps are parquet TIMESTAMP(MICROS) without
  * UTC adjustment, which Spark reads as `timestamp_ntz`.
  *
  * A file this program did not write, such as the producer's configured
  * source, goes through [[foreign]] instead, which infers.
  */
object Tables {
  // built from types, not parsed from DDL: the first DDL parse in a JVM
  // warms Spark's SQL parser, about 0.85 s
  private def fields(fs: (String, DataType)*): StructType =
    StructType(fs.map { case (n, t) => StructField(n, t) })

  private val declared: Seq[(String, StructType)] = Seq(
    "region" -> fields("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> fields("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> fields("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> fields("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> fields("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> fields("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> fields("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "events" -> fields("event_id" -> LongType, "ts" -> TimestampNTZType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> fields("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> fields("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))

  val all: Seq[String] = declared.map(_._1)

  /** The declared schema of table `name`, one of [[all]]. */
  val schema: Map[String, StructType] = declared.toMap

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    require(schema.contains(name),
      s"unknown table $name; declared: ${all.mkString(", ")}")
    spark.read.schema(schema(name)).parquet(s"$dir/$name.parquet")
  }

  /** A table file from outside the program, such as the producer's
    * configured source, read in the caller's session with its schema
    * inferred (one Spark job), so a `ts` written as TIMESTAMP or
    * TIMESTAMP_NTZ is accepted as written.
    *
    * Spark refuses to infer a TIMESTAMP(NANOS) column, the pandas
    * default. Only such a file is read again, as a raw long, under a
    * legacy conf set on a child session so that it reaches no other
    * read; the long is truncated to a microsecond timestamp with
    * integral division (ns epoch values exceed 2^53, so a double-typed
    * `/` would corrupt the low bits), and the rows are handed back to
    * the caller's session, where its listeners and job cancels see the
    * work done on them. */
  def foreign(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    try spark.read.parquet(path)
    catch {
      case e: AnalysisException if e.getCondition == "PARQUET_TYPE_ILLEGAL" &&
          e.getMessage.contains("TIMESTAMP(NANOS") =>
        val s = spark.newSession()
        spark.conf.getAll.foreach { case (k, v) =>
          if (spark.conf.isModifiable(k)) s.conf.set(k, v)
        }
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val raw = s.read.parquet(path)
        val micros = raw.schema.find(_.name == "ts").map(_.dataType) match {
          case Some(LongType) =>
            raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
          case _ => raw
        }
        spark.createDataFrame(micros.rdd, micros.schema)
    }
  }
}
