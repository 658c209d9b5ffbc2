package graft

import graft.operators.Skew
import org.apache.spark.sql.functions._

class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("salted aggregation equals direct aggregation exactly (decimal sums)") {
    // 90% of rows share one hot key — the shape salting exists for
    val rows = (1 to 2000).map(i => (if (i % 10 == 0) s"k$i" else "HOT", i.toDouble))
    val df = rows.toDF("k", "v").repartition(8)
    val salted = Skew.saltedGroupSum(df, "k", "v", saltBuckets = 16)
      .orderBy("k").collect()
    val direct = df.groupBy("k")
      .agg(sum(Tables.dec(col("v"))).as("total"), count(lit(1)).as("n"))
      .orderBy("k").collect()
    assert(salted.length == direct.length)
    salted.zip(direct).foreach { case (s, d) =>
      assert(s.getString(0) == d.getString(0))
      assert(s.getDecimal(1) == d.getDecimal(1))
      assert(s.getLong(2) == d.getLong(2))
    }
  }

  test("map columns don't break the salt, and a map-carrying struct still spreads by its other fields") {
    import org.apache.spark.sql.functions._
    // xxhash64 rejects MapType at analysis time: the salt must skip the
    // map itself but KEEP the struct's map-free sibling field — rows of
    // the hot key differing only in meta.page must land in >1 bucket
    val df = (1 to 200).map(i => (1L, i % 7, i.toDouble))
      .toDF("k", "page", "v")
      .withColumn("meta", struct(col("page"), map(lit("a"), col("v")).as("props")))
      .drop("page")
    val out = Skew.saltedGroupSum(df, "k", "v", saltBuckets = 8)
      .collect().map(r => (r.getLong(0), r.getDecimal(1).doubleValue(), r.getLong(2)))
    assert(out.toSeq == Seq((1L, (1 to 200).map(_.toDouble).sum, 200L)))
    // spread check: the stage-1 (key, salt) fan-out sees >1 distinct salt
    val salts = df.select(
        pmod(xxhash64(col("k"), col("v"), col("meta.`page`")), lit(8L)))
      .distinct().count()
    assert(salts > 1, "content salt collapsed to one bucket")
  }
}
