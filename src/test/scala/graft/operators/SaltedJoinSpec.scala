package graft.operators

import graft.SparkSpec
import graft.schema.TableSchema
import org.apache.spark.sql.functions._

class SaltedJoinSpec extends SparkSpec {
  import spark.implicits._

  test("salted join equals plain join on a skewed key distribution") {
    // 90% of rows share one hot key
    val big = (1 to 2000).map(i =>
      (if (i % 10 == 0) i.toLong % 7 else 1L, i.toLong)).toDF("k", "payload")
    val small = Seq((1L, "hot"), (2L, "b"), (3L, "c"), (0L, "z")).toDF("k", "name")
    val expected = big.join(small, Seq("k")).orderBy("payload")
      .collect().map(_.toSeq).toSeq
    val got = SaltedJoin.join(big, small, Seq("k"), factor = 8)
      .select("k", "payload", "name").orderBy("payload")
      .collect().map(_.toSeq).toSeq
    assert(got == expected)
  }

  test("schema discovery maps Spark types back to CQL names") {
    val df = Seq((1L, "x", 2.5, Seq(1), Map("a" -> 1)))
      .toDF("id", "name", "score", "tags", "attrs")
      .withColumn("writetime_name", lit(1L))
      .withColumn("ttl_name", lit(null: java.lang.Integer))
    val s = TableSchema.fromSchema(df.schema, pk = Seq("id"))
    assert(s.cqlType("id") == "BIGINT" && s.cqlType("name") == "TEXT")
    assert(s.cqlType("score") == "DOUBLE")
    assert(s.cqlType("tags") == "LIST<INT>" && s.isCollection("tags"))
    assert(s.cqlType("attrs").startsWith("MAP<") && s.isCollection("attrs"))
    // writetime_/ttl_ siblings are metadata, not data columns
    assert(!s.types.contains("writetime_name") && !s.types.contains("ttl_name"))
    assert(s.sortedRegular == Seq("attrs", "name", "score", "tags"))
  }
}
