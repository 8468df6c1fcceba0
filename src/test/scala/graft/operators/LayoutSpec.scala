package graft.operators

import graft.SparkSpec
import graft.functions.LayoutKernels
import org.apache.spark.sql.functions._

/** Layout operators: Morton kernel arithmetic and disjoint per-file
 * Morton ranges after Z-order clustering. */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("morton2 interleaves bits (known values + kernel/Expression parity)") {
    // x=5 (101) -> even bits {0,4} = 17; y=3 (011) -> odd bits {1,3} = 10
    assert(LayoutKernels.morton2(5L, 3L) == 27L)
    assert(LayoutKernels.morton2(0L, 0L) == 0L)
    assert(LayoutKernels.morton2(0xffffffffL, 0L) == 0x5555555555555555L)
    assert(LayoutKernels.morton2(0L, 0xffffffffL) == java.lang.Long.parseUnsignedLong("aaaaaaaaaaaaaaaa", 16))
    val viaExpr = Seq((5L, 3L)).toDF("x", "y")
      .select(graft.functions.LayoutFunctions.morton2(col("x"), col("y")))
      .head().getLong(0)
    assert(viaExpr == 27L)
    // locality: quadrant-local points sort together
    val codes = for (x <- 0L to 7L; y <- 0L to 7L)
      yield ((x, y), LayoutKernels.morton2(x, y))
    val lowQuadrant = codes.filter { case ((x, y), _) => x < 4 && y < 4 }.map(_._2)
    assert(lowQuadrant.max < codes.filter { case ((x, y), _) => x >= 4 && y >= 4 }.map(_._2).min)
  }

  test("clusterByZOrder yields disjoint per-file morton ranges, schema unchanged") {
    val tmp = java.nio.file.Files.createTempDirectory("layout-z").toString
    val df = spark.range(0, 4096).select(
      (col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"))
    Layout.clusterByZOrder(df, 4, col("x"), col("y")).write.mode("overwrite").parquet(tmp)
    val out = spark.read.parquet(tmp)
    assert(out.columns.toSeq == Seq("x", "y"))
    assert(out.count() == 4096)
    val files = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    assert(files.length == 4)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .select(graft.functions.LayoutFunctions.morton2(col("x"), col("y")).as("z"))
        .agg(min("z"), max("z")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(hi <= lo, s"morton ranges overlap: $hi > $lo")
    }
  }
}
