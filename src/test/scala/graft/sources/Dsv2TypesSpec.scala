package graft.sources

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The extended type surface through the DSv2 provider: date,
 * timestamp (each of Spark's three parquet encodings), short/byte,
 * small + wide decimals, and MAP —
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

  /** Pre-epoch timestamps (1950-1956) with µs digits, nulls every 5th
   * row and 7 distinct values, so a dictionary covers the chunk; plus
   * an array column of 2023 timestamps and nulls. */
  private def timestamps: DataFrame =
    spark.range(200).select(col("id").as("k"),
      when(col("id") % 5 === 0, lit(null)).otherwise(timestamp_micros(
        lit(-631152000000000L) + col("id") % 7 * lit(367L * 86400000000L + 123457L)))
        .as("ts"),
      array(timestamp_micros(lit(1700000000000001L) - col("id") % 3),
        lit(null).cast("timestamp")).as("tss"))

  /** Physical type and encodings of column `c` in the first data file
   * of `dir`. */
  private def stored(dir: String, c: String): (String, Set[String]) = {
    val f = PlanningView(dir, None).dataFiles.head
    val (schema, blocks, _) = Dsv2Parquet.fileFooter(f, Dsv2Parquet.readConf)
    val chunk = blocks.head.getColumns.asScala.find(_.getPath.toDotString == c).get
    (schema.getType(Seq(c): _*).asPrimitiveType.getPrimitiveTypeName.toString,
      chunk.getEncodings.asScala.map(_.toString).toSet)
  }

  private def withConf(k: String, v: String)(body: => Unit): Unit = {
    spark.conf.set(k, v)
    try body finally spark.conf.unset(k)
  }

  test("a timestamp column under each of Spark's three encodings reads back " +
      "equal to Spark's read, on plain and dictionary pages") {
    withTmp { tmp =>
      for {
        (enc, phys) <- Seq("INT96" -> "INT96", "TIMESTAMP_MICROS" -> "INT64",
          "TIMESTAMP_MILLIS" -> "INT64")
        dict <- Seq(true, false)
      } {
        val dir = s"$tmp/$enc-$dict"
        withConf("spark.sql.parquet.outputTimestampType", enc) {
          timestamps.coalesce(1).write
            .option("parquet.enable.dictionary", dict.toString).parquet(dir)
        }
        val (t, encodings) = stored(dir, "ts")
        assert(t == phys && encodings.exists(_.contains("DICTIONARY")) == dict,
          s"$enc/$dict wrote $t $encodings")
        val got = spark.read.format(fmt).load(dir)
        val want = spark.read.parquet(dir)
        assert(got.schema == want.schema, s"$enc/$dict")
        assert(rows(got) == rows(want), s"$enc/$dict")
        // MILLIS drops the µs digits on write; the others keep them
        if (enc != "TIMESTAMP_MILLIS") assert(rows(got) == rows(timestamps), s"$enc/$dict")
      }
    }
  }

  test("an INT96 file that needs a calendar rebase fails the read, " +
      "with the file and the column named") {
    withTmp { tmp =>
      // Spark's LEGACY rebase marks the footer org.apache.spark.legacyINT96
      val legacy = s"$tmp/legacy"
      withConf("spark.sql.parquet.int96RebaseModeInWrite", "LEGACY") {
        timestamps.select("k", "ts").coalesce(1).write.parquet(legacy)
      }
      // a writer that is not Spark stores no org.apache.spark.version
      val foreign = s"$tmp/foreign"
      val schema = org.apache.parquet.schema.MessageTypeParser
        .parseMessageType("message m { required int64 k; optional int96 ts; }")
      val file = new org.apache.hadoop.fs.Path(s"$foreign/part-0.parquet")
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter.builder(file)
        .withType(schema).withConf(Dsv2Parquet.readConf).build()
      try w.write(new org.apache.parquet.example.data.simple.SimpleGroup(schema)
        .append("k", 1L).append("ts",
          new org.apache.parquet.example.data.simple.NanoTime(2440588, 0L)))
      finally w.close()
      Seq(legacy, foreign).foreach { dir =>
        val f = PlanningView(dir, None).dataFiles.head.getPath.getName
        val e = intercept[Exception](spark.read.format(fmt).load(dir).collect())
        val msgs = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).map(_.getMessage).mkString("\n")
        assert(msgs.contains("INT96 column 'ts'") && msgs.contains(f), msgs)
        // the key column alone has no INT96 leaf and reads
        assert(spark.read.format(fmt).load(dir).select("k").collect().nonEmpty)
      }
    }
  }

  test("reads builtin-written extended types exactly") {
    withTmp { tmp =>
      // MICROS here; the encodings case above covers INT96 and MILLIS
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
