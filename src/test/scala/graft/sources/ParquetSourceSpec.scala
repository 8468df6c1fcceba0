package graft.sources

import graft.SparkSpec
import graft.reconcile.AllTypesFixture
import graft.schema.TableSchema
import java.io.File
import java.nio.file.Files
import org.apache.spark.SparkJobCount
import org.apache.spark.sql.functions._

/** `ParquetSource` reads its schema from one footer on the driver: a
 * load runs no Spark job, and the schema is the one Spark infers. */
class ParquetSourceSpec extends SparkSpec {

  private def inferred(path: String) = spark.read.parquet(path).schema

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(to_json(struct(df.columns.toSeq.map(col): _*)))
      .collect().map(_.getString(0)).toSeq.sorted

  /** The parquet tables beside the flagship query's input. */
  private def sfTables: Seq[String] =
    new File(flagshipDir).listFiles().toSeq.map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted

  private def allTypesDir(side: String): String = {
    val dir = s"${Files.createTempDirectory("graft-pqsource")}/$side"
    val df = if (side == "mv") AllTypesFixture.mv(spark) else AllTypesFixture.base(spark)
    df.repartition(3).write.parquet(dir)
    dir
  }

  test("footer schema equals Spark's inferred schema on the sf0.001 tables") {
    val tables = sfTables
    assert(tables.size >= 10, s"tables: $tables")
    tables.foreach { t =>
      assert(ParquetSource.footerSchema(spark, t) == inferred(t), t)
    }
  }

  test("footer schema equals Spark's inferred schema on AllTypesFixture " +
      "(set, map and null cells), base and MV") {
    Seq("base", "mv").foreach { side =>
      val dir = allTypesDir(side)
      assert(ParquetSource.footerSchema(spark, dir) == inferred(dir), side)
    }
  }

  test("load submits zero Spark jobs and reads the same rows as an inferred read") {
    val dir = allTypesDir("base")
    val schema = AllTypesFixture.schema
    val (df, count) = SparkJobCount.of(spark)(ParquetSource(dir).load(spark, schema))
    assert(count.jobs == 0, s"load ran $count")
    val plain = Source.project(spark.read.parquet(dir), schema)
    assert(df.schema == plain.schema)
    assert(rows(df) == rows(plain) && rows(df).size == AllTypesFixture.base(spark).count())
    // a schema discovered from the same footer names the same columns
    assert(TableSchema.fromSchema(ParquetSource.footerSchema(spark, dir), schema.pk) ==
      TableSchema.fromSchema(inferred(dir), schema.pk))
  }

  test("a directory with no data file is refused, as Spark's inference refuses it") {
    val dir = Files.createTempDirectory("graft-pqsource-empty").toString
    new File(s"$dir/_SUCCESS").createNewFile()
    intercept[IllegalArgumentException](ParquetSource.footerSchema(spark, dir))
  }
}
