package graft

import java.sql.Date
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Ops

/** `Ops.profile` (one grouped aggregation per column) against the
  * single-aggregation formulation it replaced, kept here verbatim. */
class ProfileParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def reference(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = cols.flatMap { c =>
      Seq(count(lit(1)).as(s"__n_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nn_$c"),
        countDistinct(col(c)).as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__mn_$c"),
        max(col(c)).cast("string").as(s"__mx_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val structs = cols.map { c =>
      struct(lit(c).as("column"), col(s"__n_$c").as("n_rows"),
        col(s"__nn_$c").as("n_null"), col(s"__nd_$c").as("n_distinct"),
        col(s"__mn_$c").as("min_s"), col(s"__mx_$c").as("max_s"))
    }
    one.select(explode(array(structs: _*)).as("__p")).select(col("__p.*"))
  }

  private val schema = StructType(Seq(
    StructField("s", StringType), StructField("i", IntegerType),
    StructField("d", DoubleType), StructField("dt", DateType),
    StructField("z", DoubleType), StructField("none", StringType)))
  private val cols = schema.fieldNames.toSeq

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

  private def assertParity(df: DataFrame): Unit = {
    val got = Ops.profile(df, cols)
    val want = reference(df, cols)
    assert(got.schema.map(f => (f.name, f.dataType)) == want.schema.map(f => (f.name, f.dataType)))
    assert(got.collect().toSeq == want.collect().toSeq)
  }

  test("profile matches the single-aggregation formulation: duplicates, nulls, " +
      "an all-null column, ±0.0 and NaN, across partitions") {
    def d(s: String) = Date.valueOf(s)
    val rows = Seq(
      Row("b", 3, 1.5, d("2015-01-02"), -0.0, null),
      Row("a", 3, -0.0, d("2015-01-01"), -0.0, null),
      Row("b", null, 0.0, null, 2.0, null),
      Row(null, -7, Double.NaN, d("2014-12-31"), 2.0, null),
      Row("c", 3, Double.NaN, d("2015-01-02"), 5.0, null),
      Row(null, 0, -2.5, d("2015-01-01"), -0.0, null),
      Row("a", 11, 1.5, null, 5.0, null))
    assertParity(frame(rows))
    val byCol = Ops.profile(frame(rows), cols).collect()
      .map(r => r.getString(0) -> r).toMap
    // ±0.0 fold into one distinct value; NaN is one value and the maximum
    assert(byCol("d").getLong(3) == 4L && byCol("d").getString(5) == "NaN")
    assert(byCol("z").getString(4) == "-0.0" && byCol("z").getLong(3) == 3L)
    assert(byCol("none").getLong(2) == 7L && byCol("none").getLong(3) == 0L)
  }

  test("profile of an empty frame: zero rows and distincts, null n_null and extremes") {
    assertParity(frame(Nil))
    val r = Ops.profile(frame(Nil), Seq("i")).head()
    assert(r.getLong(1) == 0L && r.isNullAt(2) && r.getLong(3) == 0L && r.isNullAt(4))
  }
}
