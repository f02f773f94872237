package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite), built by
  * [[Session.build]] so specs run the shipped config; a small core count
  * keeps the suite fast — scale behavior is the bench's job. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Session.build(2, Map(
    // keep saveAsTable (bucketing specs) out of the repo working dir
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString))

  /** Drop graft's SQL functions from the session (the extensions conf
    * registered them at build), so a spec can check that
    * Bridge.registerGraftFunctions alone makes the names resolve. */
  def dropGraftFunctions(): Unit =
    plans.GraftExtensions.functions.foreach { case (id, _, _) =>
      spark.sessionState.functionRegistry.dropFunction(id): Unit
    }

  /** Smallest driver testdata (read-only). */
  val Sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    // One JVM-wide session is shared across suites (getOrCreate); leave it
    // to the JVM teardown rather than stopping it per suite — but DO drop
    // caches: queries persist() reuse points (Bench/Verify clearCache()
    // between queries; here the suite boundary plays that role), and
    // without this each dedup-family suite pins its shingle/label caches
    // for the rest of the run.
    spark.catalog.clearCache()
    super.afterAll()
  }
}
