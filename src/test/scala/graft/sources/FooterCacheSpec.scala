package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The JVM-wide footer cache: hits serve without IO, and the
 * (path, mtime, length) key observes replacement — the staleness
 * discipline committed files never trigger (immutable once renamed
 * in; replacements get fresh names). */
class FooterCacheSpec extends SparkSpec {
  import spark.implicits._

  test("replacing a file under the same name invalidates via the key") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-fcache").toString
    try {
      val conf = new org.apache.hadoop.conf.Configuration()
      spark.range(10).select(col("id").as("k")).coalesce(1)
        .write.parquet(s"$tmp/t")
      val fs = new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(conf)
      val file = PlanningView(s"$tmp/t", None).dataFiles.head
      val (schema1, blocks1, _) = Dsv2Parquet.fileFooter(file, conf)
      assert(schema1.containsField("k"))
      assert(blocks1.map(_.getRowCount).sum == 10L)
      // same status → cache hit returns identical metadata
      val (schema2, blocks2, _) = Dsv2Parquet.fileFooter(file, conf)
      assert((schema1 eq schema2) && (blocks1 eq blocks2))
      // replace the bytes UNDER THE SAME NAME with different content
      // (a thing the commit protocol never does) — the wider schema
      // and row count prove the refreshed status misses the cache
      val stage = s"$tmp/stage"
      spark.range(25).select(col("id").as("k"),
        lit("w").as("extra")).coalesce(1).write.parquet(stage)
      val staged = PlanningView(stage, None).dataFiles.head
      fs.delete(file.getPath, false)
      require(fs.rename(staged.getPath, file.getPath))
      val fresh = fs.getFileStatus(file.getPath)
      val (schema3, blocks3, _) = Dsv2Parquet.fileFooter(fresh, conf)
      assert(schema3.containsField("extra"))
      assert(blocks3.map(_.getRowCount).sum == 25L)
    } finally {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(): Unit
      }
      rm(new java.io.File(tmp))
    }
  }
}
