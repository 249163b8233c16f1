package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class AvroSourcesSpec extends SparkSpec {

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_avro_").toString

  private val fullSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("flag", BooleanType),
    StructField("n", IntegerType),
    StructField("f", FloatType),
    StructField("d", DoubleType),
    StructField("s", StringType),
    StructField("b", BinaryType),
    StructField("day", DateType),
    StructField("ts", TimestampType)))

  private def mixedRows(n: Int): Seq[Row] = (0 until n).map { i =>
    Row(i.toLong,
      if (i % 7 == 3) null else (i % 2 == 0),
      if (i % 5 == 4) null else i * 3,
      if (i % 11 == 6) null else i / 7.0f,
      i * math.Pi,
      if (i % 13 == 9) null else s"row-$i-é中",
      Array.tabulate((i % 4) + 1)(j => (i + j).toByte),
      java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(i % 900)),
      java.sql.Timestamp.from(
        java.time.Instant.parse("2024-03-01T00:00:00Z")
          .plusSeconds(i * 3607L).plusNanos((i % 1000) * 1000L)))
  }

  private def collectSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map { r =>
      r.toSeq.map {
        case a: Array[Byte] => a.toSeq
        case v => v
      }
    }.toSet

  test("round-trip preserves every supported type, nulls included") {
    val dir = tmpDir()
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(mixedRows(200), 3), fullSchema)
    AvroSources.writeAvro(df, dir)
    val back = AvroSources.readAvro(spark, dir, fullSchema)
    assert(back.schema.fieldNames.toSeq == fullSchema.fieldNames.toSeq)
    assert(collectSet(back) == collectSet(df))
  }

  test("deflate codec round-trips and shrinks the files") {
    val dir0 = tmpDir(); val dir1 = tmpDir()
    val df = spark.range(2000).select(col("id"),
      concat(lit("padding padding padding "), col("id").cast("string")).as("s"))
    AvroSources.writeAvro(df.repartition(2), dir0, codec = "null")
    AvroSources.writeAvro(df.repartition(2), dir1, codec = "deflate")
    def bytes(d: String) = new java.io.File(d).listFiles().map(_.length()).sum
    val sch = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("s", StringType)))
    assert(collectSet(AvroSources.readAvro(spark, dir1, sch)) == collectSet(df))
    assert(bytes(dir1) < bytes(dir0), s"${bytes(dir1)} !< ${bytes(dir0)}")
  }

  test("projection decodes only the requested columns") {
    val dir = tmpDir()
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(mixedRows(100), 2), fullSchema)
    AvroSources.writeAvro(df, dir)
    val got = AvroSources.readAvro(spark, dir, fullSchema, columns = Seq("id", "s"))
    assert(got.schema.fieldNames.toSeq == Seq("id", "s"))
    assert(collectSet(got) == collectSet(df.select("id", "s")))
    val e = intercept[IllegalArgumentException] {
      AvroSources.readAvro(spark, dir, fullSchema, columns = Seq("nope"))
    }
    assert(e.getMessage.contains("nope"))
  }

  test("sync-marker splits read every record exactly once") {
    val dir = tmpDir()
    // ONE file, tiny blocks → many sync points; then force tiny splits and
    // assert the multiset of rows survives (no block lost or read twice
    // across range boundaries — the avro-mapred protocol invariant).
    val df = spark.range(5000).select(col("id"),
      md5(col("id").cast("string")).as("h"))
    AvroSources.writeAvro(df.coalesce(1), dir, syncInterval = 256)
    val sch = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("h", StringType)))
    val before = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
      val back = AvroSources.readAvro(spark, dir, sch)
      assert(back.rdd.getNumPartitions > 8,
        s"expected many splits, got ${back.rdd.getNumPartitions}")
      assert(back.count() == 5000L)
      assert(collectSet(back) == collectSet(df))
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", before)
  }

  test("an empty frame round-trips its schema") {
    val dir = tmpDir()
    val df = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], fullSchema).repartition(2)
    AvroSources.writeAvro(df, dir)
    val back = AvroSources.readAvro(spark, dir, fullSchema)
    assert(back.count() == 0L)
    assert(back.schema.fieldNames.toSeq == fullSchema.fieldNames.toSeq)
  }

  test("layout columns sort within partitions; nested types fail loudly") {
    val dir = tmpDir()
    val df = spark.range(100).select((lit(99) - col("id")).as("id"))
      .repartition(1)
    AvroSources.writeAvro(df, dir, layoutCols = Seq("id"))
    val sch = StructType(Seq(StructField("id", LongType, nullable = false)))
    val got = AvroSources.readAvro(spark, dir, sch)
      .collect().map(_.getLong(0)).toSeq
    assert(got == (0L until 100L), "within-partition order is the layout order")
    val bad = spark.range(3).select(array(col("id")).as("a"))
    val e = intercept[IllegalArgumentException] {
      AvroSources.writeAvro(bad, tmpDir())
    }
    assert(e.getMessage.contains("flat scalar"), e.getMessage)
  }
}
