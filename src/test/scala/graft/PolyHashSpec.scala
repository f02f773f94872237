package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.functions.{TextFunctions => T}

class PolyHashSpec extends SparkSpec {
  import spark.implicits._

  test("native PolyHash == HOF reference on arbitrary strings (incl. unicode)") {
    val gen = Gen.oneOf(
      Gen.asciiPrintableStr,
      Gen.listOf(Gen.oneOf("a", "ñ", "中", "😀", " ", "\t"))
        .map(_.mkString))
    val p = Prop.forAll(gen) { s =>
      val row = Seq(s).toDF("x")
        .select(T.polyHash(col("x")).as("native"), T.polyHashHof(col("x")).as("hof"))
        .collect()(0)
      row.getLong(0) == row.getLong(1)
    }
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(30)
        .withInitialSeed(org.scalacheck.rng.Seed(7L)), p)
    assert(res.passed, res.status.toString)
  }

  test("PolyHash modulus matches TextFunctions.HashMod") {
    // 'a'*31^0 = 97; a long string must stay under the modulus
    val h = Seq("a").toDF("x").select(T.polyHash(col("x"))).collect()(0).getLong(0)
    assert(h == 97L)
    val big = Seq("z" * 10000).toDF("x")
      .select(T.polyHash(col("x"))).collect()(0).getLong(0)
    assert(big >= 0 && big < T.HashMod)
  }

  test("null-safe: null string hashes to null") {
    val out = Seq(Option.empty[String]).toDF("x")
      .select(T.polyHash(col("x"))).collect()(0)
    assert(out.isNullAt(0))
  }

  test("SQL registration: graft_polyhash callable after Bridge registration") {
    dropGraftFunctions()
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT graft_polyhash('abc')"))
    org.apache.spark.sql.graftbridge.Bridge.registerGraftFunctions(spark)
    val viaSql = spark.sql("SELECT graft_polyhash('abc') AS h").collect()(0).getLong(0)
    val viaCol = Seq("abc").toDF("x").select(T.polyHash(col("x"))).collect()(0).getLong(0)
    assert(viaSql == viaCol)
  }
}
