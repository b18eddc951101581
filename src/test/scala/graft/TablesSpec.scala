package graft

import org.apache.spark.sql.functions._

/** `Tables.table` reads with the schema in a Spark-written footer instead
  * of inferring one, and must then read exactly what inference reads. */
class TablesSpec extends SparkSpec {

  private val testTables = Seq("customer", "documents", "embeddings", "events",
    "lineitem", "nation", "orders", "part", "region", "supplier")

  test("Tables.table schemas equal spark.read.parquet's for every test table") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for (dir <- Seq(sf(), sf("sf0.01")); t <- testTables) {
      val path = s"$dir/$t.parquet"
      assert(Tables.table(spark, dir, t).schema === spark.read.parquet(path).schema,
        s"$dir/$t")
    }
  }

  test("a Spark-written table reads with its footer schema, without a job, same rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tables_spec").toString
    val mixed = spark.range(0, 60, 1, 3).select(
      col("id"), col("id").cast("int").as("i"), (col("id") / 3).as("d"),
      col("id").cast("string").as("s"), col("id").cast("decimal(12,2)").as("dec"),
      timestamp_seconds(col("id")).as("ts"), to_date(lit("2020-01-01")).as("dt"),
      array(col("id"), lit(null).cast("long")).as("arr"),
      struct(col("id").as("a"), lit("x").as("b")).as("st"),
      map(lit("k"), col("d")).as("m"),
      when(col("id") % 2 === 0, lit(null)).otherwise(col("id")).as("nul"))
    mixed.write.parquet(s"$dir/mixed.parquet")
    val inferred = spark.read.parquet(s"$dir/mixed.parquet")
    assert(jobsOf(Tables.table(spark, dir, "mixed")) === 0)
    val got = Tables.table(spark, dir, "mixed")
    assert(got.schema === inferred.schema)
    assert(got.collect().map(_.toString).sorted.toSeq ===
      inferred.collect().map(_.toString).sorted.toSeq)
    // schema merging on: whatever the files hold, read as inference reads
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try assert(jobsOf(Tables.table(spark, dir, "mixed")) > 0)
    finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    // a partitioned directory reads by inference too
    mixed.write.partitionBy("i").parquet(s"$dir/parted.parquet")
    assert(Tables.table(spark, dir, "parted").schema ===
      spark.read.parquet(s"$dir/parted.parquet").schema)
  }
}
