package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.functions.{HashFunctions => H}

/** graft.plans.ArrayCosine — the native fused cosine loop must be
  * BIT-identical to the HOF reference formulation (three order-pinned
  * left folds), because every similarity oracle mirrors that fold. */
class ArrayCosineSpec extends SparkSpec {
  import spark.implicits._

  private val vecGen: Gen[List[Float]] =
    Gen.choose(1, 96).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-1000000, 1000000).map(_ / 61.0f)))

  test("native == HOF fold, bit for bit, on random float vectors") {
    val p = Prop.forAll(vecGen, vecGen) { (a: List[Float], b0: List[Float]) =>
      // same-length pair: pad/trim b to a's length so the comparison hits
      // the computed path, not the null path
      val b = (b0 ++ List.fill(math.max(0, a.length - b0.length))(0.25f))
        .take(a.length)
      val row = Seq((a, b)).toDF("a", "b")
        .select(
          H.cosine(col("a"), col("b")).as("native"),
          H.cosineHof(col("a"), col("b")).as("hof"))
        .collect()(0)
      java.lang.Double.doubleToRawLongBits(row.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(row.getDouble(1))
    }
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(40)
        .withInitialSeed(org.scalacheck.rng.Seed(11L)), p)
    assert(res.passed, res.status.toString)
  }

  test("null array, null element, and length mismatch all yield null") {
    val df = Seq(
      (Some(List(1.0f, 2.0f)), None: Option[List[Float]]),
      (Some(List(1.0f, 2.0f)), Some(List(1.0f))),
      (Some(List(1.0f, 2.0f)), Some(List(1.0f, 2.0f))))
      .toDF("a", "b")
      .withColumn("c", H.cosine(col("a"), col("b")))
    val got = df.select("c").collect().map(r => Option(r.get(0)))
    assert(got(0).isEmpty && got(1).isEmpty && got(2).isDefined)
    dropGraftFunctions()
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT graft_cosine(array(1.0F), array(1.0F))"))
    // null ELEMENT nulls the result (HOF parity) — via the SQL name
    org.apache.spark.sql.graftbridge.Bridge.registerGraftFunctions(spark)
    assert(spark.sql(
      "SELECT graft_cosine(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS c")
      .collect()(0).isNullAt(0))
  }

  test("planeDot: native constant-weights loop == HOF fold, bit for bit") {
    val dims = 64
    val vec64: Gen[List[Float]] =
      Gen.listOfN(dims, Gen.choose(-1000000, 1000000).map(_ / 61.0f))
    val p = Prop.forAll(vec64, Gen.choose(0, 15)) { (a: List[Float], k: Int) =>
      val row = Seq(Tuple1(a)).toDF("a")
        .select(
          H.planeDot(col("a"), k, dims).as("native"),
          H.planeDotHof(col("a"), k, dims).as("hof"))
        .collect()(0)
      java.lang.Double.doubleToRawLongBits(row.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(row.getDouble(1))
    }
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(30)
        .withInitialSeed(org.scalacheck.rng.Seed(13L)), p)
    assert(res.passed, res.status.toString)
    // and so the full sketch (the sum of per-plane sign bits) agrees
    val v = List.tabulate(dims)(i => (i * 7 % 13 - 6) / 3.0f)
    val sk = Seq(Tuple1(v)).toDF("a")
      .select(H.hyperplaneSketch(col("a"), dims, 16).as("s")).collect()(0).getLong(0)
    assert(sk >= 0 && sk < (1L << 16))
  }

  test("codegen and interpreted paths agree") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val a = List(0.25f, -0.5f, 0.75f, 1.5f)
    val b = List(1.0f, 2.0f, -3.0f, 0.125f)
    def litArr(v: List[Float]) = Literal.create(v, ArrayType(FloatType))
    // interpreted: nullSafeEval via direct Expression.eval
    val interpCos = graft.plans.ArrayCosine(litArr(a), litArr(b))
      .eval(null).asInstanceOf[Double]
    val weights = (0 until 4).map(d => H.planeWeight(2, d))
    val interpDot = graft.plans.ArrayDotConst(litArr(a), weights)
      .eval(null).asInstanceOf[Double]
    // codegen: the same expressions through a DataFrame projection
    val row = Seq((a, b)).toDF("a", "b")
      .select(H.cosine(col("a"), col("b")).as("c"),
        H.planeDot(col("a"), 2, 4).as("d"))
      .collect()(0)
    assert(java.lang.Double.doubleToRawLongBits(row.getDouble(0)) ==
      java.lang.Double.doubleToRawLongBits(interpCos))
    assert(java.lang.Double.doubleToRawLongBits(row.getDouble(1)) ==
      java.lang.Double.doubleToRawLongBits(interpDot))
    // and both match the plain-Scala reference fold
    def dot(x: Seq[Float], y: Seq[Float]) =
      x.zip(y).foldLeft(0.0) { case (acc, (u, v)) => acc + u.toDouble * v.toDouble }
    assert(interpCos == dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
  }
}
