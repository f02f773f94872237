package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.etl.{Expressions => E}

/** Value-parity pins for the fused ETL scalar kernels
  * (graft.plans.CleanName / StripNumeric) against their built-in
  * regex-chain twins — the same native-kernel/twin discipline as
  * PolyHash/ArrayCosine/ShingleHashes: the kernel is never allowed to
  * drift from the formulation the oracles mirror. */
class CleanExprSpec extends SparkSpec {
  import spark.implicits._

  // messy-string generator: names, money renderings, unicode, control
  // chars, whitespace runs — every class the ETL inputs contain plus
  // the ones they might someday (Kelvin sign K and dotted İ lowercase
  // INTO ascii letters, the one place a wrong lowercase would show)
  private val messy: Gen[String] = {
    val atoms = Gen.oneOf[String](
      Gen.alphaNumStr.map(_.take(6)),
      Gen.oneOf(" ", "  ", "\t", "\n", "\r", "\f", ""),
      Gen.oneOf("$", ",", "(", ")", ".", "-", "!", "&", "/", "'"),
      Gen.oneOf("ÁÉíñÜ", "ß", "İı", "K", "漢字", "😀", "Ω"),
      Gen.choose(0, 9999).map(_.toString))
    Gen.listOf(atoms).map(_.mkString)
  }

  private def bothWays(input: Seq[String],
      native: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      ref: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Boolean = {
    val rows = input.toDF("s")
      .select(native(col("s")).as("n"), ref(col("s")).as("r"))
      .collect()
    rows.zip(input).forall { case (row, in) =>
      val ok = row.get(0) == row.get(1)
      if (!ok) System.err.println(
        s"kernel/ref divergence on ${in.map(c => f"\\u${c.toInt}%04x").mkString}: " +
          s"native=${row.get(0)} ref=${row.get(1)}")
      ok
    }
  }

  private def checkProp(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(20)
        .withInitialSeed(org.scalacheck.rng.Seed(11L)), p)
    assert(res.passed, res.status.toString)
  }

  test("CleanName matches the two-regex chain on random messy strings") {
    checkProp(Prop.forAll(Gen.listOfN(40, messy)) { ss =>
      bothWays("" +: " \t " +: "(Walmart, Inc.)  # 42 " +: ss,
        E.cleanCustomerName, E.cleanCustomerNameRef)
    })
  }

  test("StripNumeric modes match their regex chains on random messy strings") {
    checkProp(Prop.forAll(Gen.listOfN(40, messy)) { ss =>
      val in = "($1,234.56)" +: " $9,999.00 " +: "1,000,000" +: "abc" +: ss
      // both formulations end in an ANSI int cast that (identically)
      // throws on > 2^31 values — keep those inputs out of the int
      // comparison, they abort the job before values can be compared
      val intSafe = in.filter(s =>
        s.replace(",", "").toDoubleOption.forall(d => math.abs(d) < 2e9))
      bothWays(in, E.parseMoneyAccounting, E.parseMoneyAccountingRef) &&
        bothWays(in, E.parseMoney, E.parseMoneyRef) &&
        bothWays(intSafe, E.parseIntThousands, E.parseIntThousandsRef)
    })
  }

  test("null propagation and SQL registration") {
    dropGraftFunctions()
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT graft_clean_name('a'), graft_strip_numeric('1', 'accounting')"))
    org.apache.spark.sql.graftbridge.Bridge.registerGraftFunctions(spark)
    val r = Seq((Option.empty[String], Some("($1,2)"))).toDF("a", "b")
      .selectExpr("graft_clean_name(a)", "graft_strip_numeric(b, 'accounting')")
      .collect()(0)
    assert(r.isNullAt(0) && r.getString(1) == "-12")
  }
}
