package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Loaders for the driver-provided parquet tables (TESTDATA.md) and the
  * deterministic spatial projections of them (FIXTURES.md "Spatial
  * projections"): the star schema has no native coordinates, so tests and
  * queries derive 2-D points from stable numeric columns.
  */
object Tables {

  /** `$dir/$name.parquet`, read with the schema Spark recorded in its
    * first data file's footer, so the read starts no schema-inference
    * job. Reads by inference, exactly as `spark.read.parquet`, where that
    * schema could differ or is not there: schema merging on, a summary
    * file, no data file, nested directories, or a footer without Spark's
    * schema key (a file another writer wrote). */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    footerSchema(spark, path).fold(spark.read)(spark.read.schema(_)).parquet(path)
  }

  private[graft] def footerSchema(spark: SparkSession,
                           path: String): Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.hadoop.fs.Path
    if (spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean) return None
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return None
    val listed = if (fs.getFileStatus(p).isFile) Array(fs.getFileStatus(p)) else fs.listStatus(p)
    def hidden(n: String) = n.startsWith("_") || n.startsWith(".")
    val names = listed.map(_.getPath.getName)
    if (listed.exists(_.isDirectory) ||
        names.exists(n => n == "_metadata" || n == "_common_metadata")) return None
    listed.filter(s => !hidden(s.getPath.getName)).sortBy(_.getPath.getName).headOption
      .flatMap { first =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(first, conf))
        try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
        finally reader.close()
      }
      .flatMap(json => scala.util.Try(
        org.apache.spark.sql.types.DataType.fromJson(json)).toOption)
      .collect { case t: org.apache.spark.sql.types.StructType => t }
  }

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  /** `events.parquet`'s `ts` physical type has varied across testdata
    * generations: TIMESTAMP(NANOS) (which Spark 4 only reads as a raw
    * long under nanosAsLong), plain TIMESTAMP(MICROS) without the UTC
    * flag (read as TIMESTAMP_NTZ), or an adjusted-to-UTC timestamp.
    * Normalize all three to session-zone TimestampType so every
    * downstream query sees one shape. The long path divides integrally
    * (a double division would lose precision above 2^53 ns); the NTZ
    * cast is value-preserving because every session here pins
    * spark.sql.session.timeZone=UTC. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(table(s, d, "events"))
  }

  /** See [[events]] — shared with the streaming readers, which must apply
    * the same normalization on top of the batch schema. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** customer as 2-D points: cx = c_acctbal, cy = c_custkey % 1000. */
  def customerPts(s: SparkSession, d: String): DataFrame =
    customer(s, d).select(
      col("c_custkey"),
      col("c_acctbal").as("cx"),
      (col("c_custkey") % 1000).cast("double").as("cy"))

  /** supplier as 2-D points: sx = s_acctbal, sy = s_suppkey % 1000. */
  def supplierPts(s: SparkSession, d: String): DataFrame =
    supplier(s, d).select(
      col("s_suppkey"),
      col("s_acctbal").as("sx"),
      (col("s_suppkey") % 1000).cast("double").as("sy"))

  /** [[customerPts]] with skew, columns `<p>id`, `<p>x`, `<p>y`: 80% of
    * rows (c_custkey % 5 < 4) squeeze 100x into a dense cluster, the
    * rest spread 10x wider. The skewed kNN-join fixture. */
  def skewedPts(s: SparkSession, d: String, p: String): DataFrame = {
    val dense = col("c_custkey") % 5 < 4
    customerPts(s, d).select(
      col("c_custkey").as(s"${p}id"),
      when(dense, col("cx") * 0.01).otherwise(col("cx") * 10.0).as(s"${p}x"),
      when(dense, col("cy") * 0.01).otherwise(col("cy") * 10.0).as(s"${p}y"))
  }

  /** events as 2-D points with time retained. */
  def eventsPts(s: SparkSession, d: String): DataFrame =
    events(s, d).select(
      col("event_id"), col("ts"),
      col("value").as("ex"),
      (col("user_id") % 1000).cast("double").as("ey"))

  /** Order-independent exact double aggregation: cast each value to an
    * exact decimal, sum exactly, cast the total back to double. Both our
    * plans and the DuckDB oracle use this same shape, so hashes match
    * regardless of partitioning / accumulation order — a plain SUM(double)
    * is order-dependent in its last bits and would flake at scale. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 6))).cast("double")

  /** Deterministic double average built on [[dsum]]. */
  def davg(c: Column): Column = dsum(c) / count(lit(1))
}
