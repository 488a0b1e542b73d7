package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{FloatVecDot, PiiScrub}

class FloatVecDotSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("matches the decimal-fold formulation on real embeddings") {
    val e = spark.read.parquet(s"${TestSpark.SF}/embeddings.parquet")
      .filter(col("vec_id") < 50)
    val both = e.select(
      FloatVecDot.dot(col("embedding"), col("embedding")).as("native"),
      aggregate(
        zip_with(col("embedding"), col("embedding"),
          (x, y) => (x.cast("double") * y.cast("double"))
            .cast(org.apache.spark.sql.types.DecimalType(18, 15))),
        lit(0).cast(org.apache.spark.sql.types.DecimalType(18, 15)),
        (acc, p) => (acc + p)
          .cast(org.apache.spark.sql.types.DecimalType(18, 15)))
        .cast("double").as("folded"))
      .collect()
    both.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 2e-15,
        s"native=${r.getDouble(0)} folded=${r.getDouble(1)}")
    }
  }

  test("callable from SQL once registered via GraftExtensions") {
    spark.read.parquet(s"${TestSpark.SF}/embeddings.parquet")
      .createOrReplaceTempView("emb_fvd")
    val d = spark.sql(
      "select float_vec_dot(embedding, embedding) from emb_fvd where vec_id = 0")
      .head().getDouble(0)
    assert(math.abs(d - 1.0) < 0.2, s"self-dot of unit vector was $d")
  }

  test("null input yields null") {
    val df = spark.sql(
      "select cast(null as array<float>) as a, array(cast(1.0 as float)) as b")
    val r = df.select(FloatVecDot.dot(col("a"), col("b"))).head()
    assert(r.isNullAt(0))
  }

  test("interpreted eval path agrees with codegen") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graftbridge.Bridge
    val a = ArrayData.toArrayData(Array(0.5f, -1.25f, 2.0f))
    val expr = Bridge.expression(FloatVecDot.dot(
      Bridge.column(Literal.create(a, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType))),
      Bridge.column(Literal.create(a, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType)))))
    val interpreted = expr.eval(null).asInstanceOf[Double]
    assert(math.abs(interpreted - (0.25 + 1.5625 + 4.0)) < 1e-12)
  }

  test("kernel operands of the wrong type fail analysis") {
    // the input contract: no implicit cast toward a kernel's operand
    // type (ANSI coercion would turn an int into a string and an
    // array<double> into an array<float>)
    spark.range(1).selectExpr("id AS l", "array(cast(id AS float)) AS f",
        "array(cast(id AS double)) AS d", "cast(id AS int) AS i")
      .createOrReplaceTempView("fvd_types")
    intercept[AnalysisException](
      spark.sql("select float_vec_dot(l, f) from fvd_types"))
    intercept[AnalysisException](
      spark.sql("select float_vec_dot(d, f) from fvd_types"))
    intercept[AnalysisException](
      spark.table("fvd_types").select(PiiScrub.of(col("i"))))
  }
}
