package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The extended type surface through the DSv2 provider: date,
 * timestamp (MICROS), short/byte, small + wide decimals, and MAP —
 * cross-writer parity with Spark's builtin source in both directions.
 * (The oracle-level proof is recon_classify_alltypes_dsv2: the full
 * 22-type fixture written AND read through the provider under the
 * value-level diff oracle.) */
class Dsv2TypesSpec extends SparkSpec {
  import spark.implicits._

  private def fmt = classOf[GraftParquetProvider].getName

  private def withTmp[A](f: String => A): A = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-dsv2-types").toString
    try f(tmp)
    finally {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(): Unit
      }
      rm(new java.io.File(tmp))
    }
  }

  private def fixture: DataFrame =
    spark.range(40).select(
      col("id").as("k"),
      date_add(lit("2001-02-03").cast("date"), col("id").cast("int")).as("d"),
      timestamp_seconds(lit(1000000000L) + col("id") * 3601).as("ts"),
      (col("id") - 20).cast("short").as("sh"),
      (col("id") % 100 - 50).cast("byte").as("by"),
      (col("id") * 7 - 35).cast("decimal(9,2)").as("dec9"),
      (col("id").cast("decimal(38,0)") * lit("-987654321987654321")
        .cast("decimal(38,0)")).as("dec38"),
      when(col("id") % 6 === 0, lit(null)).otherwise(
        map(concat(lit("k"), (col("id") % 3).cast("string")),
          (col("id") % 9).cast("int"),
          lit("z"), when(col("id") % 4 === 0, lit(null).cast("int"))
            .otherwise(col("id").cast("int")))).as("m"))

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case m: Map[_, _] => m.toSeq.sortBy(_._1.toString).toList
      case x => x
    }).toSet

  test("reads builtin-written extended types exactly") {
    withTmp { tmp =>
      // builtin writes INT96 timestamps by default — pin the modern
      // MICROS encoding the provider supports
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      try fixture.write.parquet(s"$tmp/t")
      finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
      val got = spark.read.format(fmt).load(s"$tmp/t")
      assert(got.schema.map(f => f.name -> f.dataType) ==
        spark.read.parquet(s"$tmp/t").schema.map(f => f.name -> f.dataType))
      assert(rows(got) == rows(fixture))
    }
  }

  test("writes extended types both readers round-trip exactly") {
    withTmp { tmp =>
      val p = s"$tmp/t"
      fixture.write.format(fmt)
        .option(Dsv2Parquet.SchemaOption, fixture.schema.toDDL)
        .mode("append").save(p)
      assert(rows(spark.read.parquet(p)) == rows(fixture))
      assert(rows(spark.read.format(fmt).load(p)) == rows(fixture))
    }
  }

  test("TIMESTAMP_NTZ write round-trips through both readers") {
    withTmp { tmp =>
      val p = s"$tmp/t"
      // NTZ is wall-clock micros: the written bytes must read back
      // timezone-independent through the provider and the builtin
      val df = spark.range(10).select(col("id").as("k"),
        when(col("id") % 3 === 0, lit(null).cast("timestamp_ntz"))
          .otherwise(timestamp_seconds(lit(1000000000L) + col("id") * 977)
            .cast("timestamp_ntz")).as("tsn"))
      df.write.format(fmt)
        .option(Dsv2Parquet.SchemaOption, df.schema.toDDL)
        .mode("append").save(p)
      assert(spark.read.format(fmt).load(p).schema("tsn").dataType ==
        org.apache.spark.sql.types.TimestampNTZType)
      assert(rows(spark.read.parquet(p)) == rows(df))
      assert(rows(spark.read.format(fmt).load(p)) == rows(df))
    }
  }

  test("negative wide decimals sign-extend through the FLBA encoding") {
    withTmp { tmp =>
      val p = s"$tmp/t"
      val df = Seq("-1", "-99999999999999999999999999", "12345", "0")
        .toDF("s").select(col("s").cast("decimal(38,0)").as("v"))
      df.write.format(fmt)
        .option(Dsv2Parquet.SchemaOption, "v DECIMAL(38,0)")
        .mode("append").save(p)
      assert(rows(spark.read.parquet(p)) == rows(df))
      assert(rows(spark.read.format(fmt).load(p)) == rows(df))
    }
  }
}
