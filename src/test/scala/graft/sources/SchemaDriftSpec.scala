package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Schema-evolution boundary: MISSING columns null-fill per file, but
 * a column whose physical TYPE drifted between files must fail with
 * the column named — the decoders are requested-type-driven and would
 * otherwise surface an opaque parquet internal error (or garbage). */
class SchemaDriftSpec extends SparkSpec {
  private def fmt = classOf[GraftParquetProvider].getName

  test("type drift between files fails loudly with the column named") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-drift").toString
    val p = s"$tmp/t"
    try {
      spark.range(100).select(col("id").as("k"), (col("id") * 1.5).as("d"))
        .coalesce(1).write.format(fmt)
        .option(Dsv2Parquet.SchemaOption, "k BIGINT, d DOUBLE")
        .mode("append").save(p)
      spark.range(100, 200).select(col("id").as("k"),
        col("id").cast("decimal(12,2)").as("d"))
        .coalesce(1).write.format(fmt)
        .option(Dsv2Parquet.SchemaOption, "k BIGINT, d DECIMAL(12,2)")
        .mode("append").save(p)
      // the drift guard names the column
      val e = intercept[Throwable] {
        spark.read.format(fmt)
          .option(Dsv2Parquet.SchemaOption, "k BIGINT, d DECIMAL(12,2)")
          .load(p).collect()
      }
      val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .flatMap(c => Option(c.getMessage)).mkString(" | ")
      assert(msgs.contains("TYPE drift") && msgs.contains("'d'"), msgs)
    } finally {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(): Unit
      }
      rm(new java.io.File(tmp))
    }
  }

  test("decimal column read as BIGINT is drift, never unscaled longs") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-drift2").toString
    val p = s"$tmp/t"
    try {
      // int64-backed decimal: physically INT64, but its raw values are
      // UNSCALED — serving them as BIGINT would be silent ×100 garbage
      spark.range(100).select(col("id").as("k"),
        col("id").cast("decimal(12,2)").as("d"))
        .coalesce(1).write.format(fmt)
        .option(Dsv2Parquet.SchemaOption, "k BIGINT, d DECIMAL(12,2)")
        .mode("append").save(p)
      val e = intercept[Throwable] {
        spark.read.format(fmt)
          .option(Dsv2Parquet.SchemaOption, "k BIGINT, d BIGINT")
          .load(p).collect()
      }
      val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .flatMap(c => Option(c.getMessage)).mkString(" | ")
      assert(msgs.contains("TYPE drift") && msgs.contains("'d'"), msgs)
    } finally {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(): Unit
      }
      rm(new java.io.File(tmp))
    }
  }

  test("a type the reader cannot serve is refused at planning, column named") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-unserved").toString
    val p = s"$tmp/t"
    try {
      spark.range(10).select(col("id").as("k")).coalesce(1).write.format(fmt)
        .option(Dsv2Parquet.SchemaOption, "k BIGINT").mode("append").save(p)
      // the files lack both columns: a decoder that null-filled them
      // would answer nulls where the declared type cannot be read at all
      Seq("st" -> "k BIGINT, st STRUCT<a: INT>",
          "nest" -> "k BIGINT, nest ARRAY<ARRAY<BIGINT>>").foreach {
        case (c, ddl) =>
          val df = spark.read.format(fmt)
            .option(Dsv2Parquet.SchemaOption, ddl).load(p)
          val e = intercept[Throwable](df.queryExecution.executedPlan)
          val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
            .flatMap(x => Option(x.getMessage)).mkString(" | ")
          assert(msgs.contains(s"'$c'") && msgs.contains("cannot read"), msgs)
      }
    } finally {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(): Unit
      }
      rm(new java.io.File(tmp))
    }
  }
}
