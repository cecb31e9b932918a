package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `Verify`'s dump loop: a failing entry is reported, not swallowed,
  * and does not stop the entries after it; a JVM error stops the loop.
  */
class VerifySpec extends SparkSpec {

  private def ok(spark: SparkSession, dir: String): DataFrame =
    graft.core.Tables.nation(spark, dir)

  test("dumpAll finishes the remaining entries and returns every failure") {
    val out = Files.createTempDirectory("graft-verify").toString
    val boom = new IllegalStateException("injected")
    val failed = Verify.dumpAll(spark, sf, out, Seq(
      "first" -> ok,
      "broken" -> ((_: SparkSession, _: String) => throw boom),
      "last" -> ok))
    assert(failed.map(_._1) == Seq("broken"))
    assert(failed.head._2 eq boom)
    Seq("first", "last").foreach { name =>
      assert(spark.read.parquet(s"$out/$name").count() == 25)
    }
    assert(!Files.exists(Paths.get(out, "broken")))
  }

  test("dumpAll rethrows a VirtualMachineError at once") {
    val out = Files.createTempDirectory("graft-verify-vm").toString
    intercept[StackOverflowError] {
      Verify.dumpAll(spark, sf, out, Seq(
        "vm" -> ((_: SparkSession, _: String) => throw new StackOverflowError("injected")),
        "after" -> ok))
    }
    assert(!Files.exists(Paths.get(out, "after")))
  }
}
