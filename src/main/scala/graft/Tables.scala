package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loader for the driver-generated TPC-H-ish star (TESTDATA.md).
  *
  * All tables are read straight from parquet so Catalyst can push filters
  * and prune columns into the scan. Dimension tables (region, nation,
  * supplier, part, customer) are small relative to the fact at every scale
  * factor, so star joins against them are broadcast by the planner — at
  * 100 TB the same shape holds (dims ~GBs vs fact ~TBs), which keeps every
  * star join shuffle-free on the fact side.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped as both INT64 TIMESTAMP(NANOS) (which Spark 4
      // rejects outright unless read as a raw long) and TIMESTAMP(MICROS)
      // NTZ, depending on the generator version. Read with nanosAsLong on —
      // a no-op for micros files — then normalize whatever arrived.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      normalizeEventTs(parquet(spark, s"$sfDir/$name.parquet"))
    } else parquet(spark, s"$sfDir/$name.parquet")

  /** What a parquet schema was inferred under: each leaf file's
    * (path, length, modification time), listed on the driver with no
    * job, and the session's parquet settings.
    */
  private type Stamp = (Seq[(String, Long, Long)], Map[String, String])

  /** Per path: the schema last inferred there and its stamp. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (Stamp, StructType)]()

  /** `path` read as parquet with its schema inferred once. Inference is
    * a Spark job (a footer read over the files) that a fact read would
    * otherwise start every time. A held schema is reused only under an
    * equal [[Stamp]], so a rewritten file or a changed reader setting
    * infers again.
    */
  private def parquet(spark: SparkSession, path: String): DataFrame = {
    val stamp: Stamp = (leafFiles(spark, path), spark.conf.getAll.filter {
      case (k, _) => k.startsWith("spark.sql.parquet.") ||
        k.startsWith("spark.sql.legacy.parquet.")
    })
    val held = schemas.get(path)
    val schema =
      if (held != null && held._1 == stamp) held._2
      else {
        val inferred = spark.read.parquet(path).schema
        schemas.put(path, (stamp, inferred))
        inferred
      }
    spark.read.schema(schema).parquet(path)
  }

  /** (path, length, modification time) of every file under `path`, or
    * of `path` itself when it is a file; empty when it does not exist
    * (the read then fails with Spark's own error).
    */
  private def leafFiles(spark: SparkSession,
      path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else {
      val it = fs.listFiles(p, true)
      val out = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        out += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      out.result()
    }
  }

  /** Normalize an events frame's `ts` to a session-zone TimestampType at
    * microsecond precision, whichever parquet variant it was read from.
    * The ONE copy of this logic — the batch loader above and the
    * streaming reader (`StreamingCube.eventStream`) both call it, so the
    * two paths cannot drift (the r7 regression was exactly a reader pair
    * hand-synced to different generator variants).
    */
  def normalizeEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // nanos-as-long
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => // TIMESTAMP(MICROS); NTZ wall-clock == UTC session zone
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }

  /** Register every table as a temp view named after the table, so both the
    * DataFrame API and spark.sql(...) paths see the same catalog. Idempotent.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach { n => load(spark, sfDir, n).createOrReplaceTempView(n) }

  /** Time dimension derived from orders.o_orderdate (FIXTURES.md §B):
    * Year / Quarter / Month / Day levels with ordinal columns.
    * Small (≤ a few thousand rows at any SF) → always broadcastable.
    */
  def timeDim(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "orders")
      .select(to_date(col("o_orderdate")).as("d_date"))
      .distinct()
      .withColumn("d_year", year(col("d_date")))
      .withColumn("d_quarter", quarter(col("d_date")))
      .withColumn("d_month", month(col("d_date")))
      .withColumn("d_day", dayofmonth(col("d_date")))
      .withColumn("d_yq", concat(col("d_year"), lit("-Q"), col("d_quarter")))
      .withColumn("d_ym", date_format(col("d_date"), "yyyy-MM"))
}
