package graft

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up generator for stress sweeps past the driver's testdata
  * ceiling (TESTDATA.md stops at sf0.1): replicate every SF-growing
  * table `factor`× with per-copy key shifts that keep every join
  * relationship copy-local — lineitem copy c joins orders copy c and
  * only it, so join cardinalities scale exactly ×factor, never
  * ×factor². Fixed-size dims (region, nation) keep one copy, and the
  * nationkey FKs into them are left unshifted.
  *
  * Payload columns (document text, embedding vectors, event
  * timestamps) are deliberately NOT perturbed: every document gains
  * factor−1 byte-identical twins, which is a duplicate-density stress
  * the dedup/ANN families' fan-out guards (LSH mega-bucket caps,
  * df-caps, IVF cell blocking) exist to absorb — if a sweep at the
  * generated scale explodes, that is a finding about a missing cap,
  * not noise.
  *
  * Usage: `runMain graft.ScaleGen <srcDir> <outDir> <factor>`.
  */
object ScaleGen {
  /** Added to every id column per copy — larger than any key in the
    * source tables, so copies can never collide or cross-match. */
  val Stride = 100000000L

  private val idCols: Map[String, Seq[String]] = Map(
    "region" -> Nil,
    "nation" -> Nil,
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val spark = GraftSession.build("16")
    Tables.all.foreach { name =>
      val src = Tables(spark, srcDir, name)
      val shifts = idCols(name)
      // Guard the stride invariant instead of asserting it in prose: if
      // the source already holds keys >= Stride (e.g. ScaleGen run on its
      // own output, or future testdata with larger keys), shifted copies
      // would silently collide and every join would go ×factor² — the
      // exact artifact this tool exists to avoid. One cheap max() agg per
      // shifted column, failing loudly before any corrupt bytes land.
      if (shifts.nonEmpty && factor > 1) {
        val maxes = src.agg(max(col(shifts.head).cast("long")),
          shifts.tail.map(c => max(col(c).cast("long"))): _*).head()
        shifts.zipWithIndex.foreach { case (c, i) =>
          val m = maxes.getLong(i)
          require(m < Stride,
            s"ScaleGen: $name.$c max key $m >= stride $Stride — copies " +
              "would collide; source looks already-scaled")
        }
      }
      val out =
        if (shifts.isEmpty || factor == 1) src
        else {
          val crossed = src.crossJoin(
            spark.range(factor.toLong).toDF("__copy"))
          shifts.foldLeft(crossed) { (df, c) =>
            df.withColumn(c, col(c) + col("__copy") * lit(Stride))
          }.drop("__copy")
        }
      out.write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name.parquet")
      println(s"SCALEGEN $name rows=${checkedCount(spark, outDir, name)}")
    }
    spark.stop()
  }

  /** Row count of the table `name` written under `dir`, read with its
    * declared schema. Fails, naming the table, if the schema Spark
    * infers from the written file is not the one [[Tables]] declares:
    * a declared read of such a file would silently read a missing
    * column as null, so every generated table must take the same read
    * path as the fixtures. */
  def checkedCount(spark: SparkSession, dir: String, name: String): Long = {
    val written = spark.read.parquet(s"$dir/$name.parquet").schema
    require(written == Tables.schema(name),
      s"ScaleGen: $name was written as ${written.toDDL}, but Tables " +
        s"declares ${Tables.schema(name).toDDL}")
    Tables(spark, dir, name).count()
  }
}
