package graft.reconcile

import graft.SparkSpec

/** The r22 per-JVM fixture memo must be invisible: the checkpointed
 * frames [[AllTypesFixture.base]]/[[AllTypesFixture.mv]] serve must be
 * row-identical to a fresh derivation from `range()` — the
 * both-engines-derive-independently design guarantee the memo rides on
 * (the DuckDB oracle always re-derives; a divergent memo would turn
 * the driver hash red, this spec catches it earlier). */
class AllTypesFixtureSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq // value equality, not identity
      case x => x
    }).toSet

  test("memoized base/mv equal a fresh range() derivation, twice") {
    for (mvSide <- Seq(false, true)) {
      val memoized =
        if (mvSide) AllTypesFixture.mv(spark) else AllTypesFixture.base(spark)
      val fresh = AllTypesFixture.derive(spark, mvSide)
      assert(memoized.schema == fresh.schema,
        s"mvSide=$mvSide: schema drifted through the memo")
      val m = rows(memoized)
      assert(m == rows(fresh), s"mvSide=$mvSide: memo != derivation")
      // a second call serves the SAME checkpoint (HIT ≡ MISS)
      val again =
        if (mvSide) AllTypesFixture.mv(spark) else AllTypesFixture.base(spark)
      assert(rows(again) == m, s"mvSide=$mvSide: second memo read differs")
    }
  }

  test("damage residues survive the memo (classification inputs intact)") {
    // orphan / missing / damaged counts are arithmetic in Rows — a memo
    // serving stale or truncated rows breaks these exact counts
    val n = AllTypesFixture.Rows
    assert(AllTypesFixture.base(spark).count() ==
      (0L until n).count(_ % 23 != 0))
    assert(AllTypesFixture.mv(spark).count() ==
      (0L until n).count(_ % 19 != 0))
  }

  test("a new memo entry drops every other application's entries") {
    val app = spark.sparkContext.applicationId
    // force base(spark) to add its key, beside a stopped context's entry
    AllTypesFixture.memo.remove((app, false))
    AllTypesFixture.memo.put(("stale-app", false),
      AllTypesFixture.derive(spark, mvSide = false))
    assert(AllTypesFixture.base(spark).count() > 0L)
    val apps = AllTypesFixture.memo.keySet().toArray.toSeq
      .map(_.asInstanceOf[(String, Boolean)]._1)
    assert(!apps.contains("stale-app"), apps.toString)
    assert(AllTypesFixture.memo.containsKey((app, false)))
  }
}
