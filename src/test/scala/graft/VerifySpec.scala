package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, udf}

import java.nio.file.{Files, Paths}
import scala.concurrent.duration._

/** Verify's per-query watchdog: a query that overruns its limit is
  * cancelled and recorded as failed, and the dump still writes the rest
  * and returns. */
class VerifySpec extends SparkSuite {

  test("dump: a query over the limit gets a timed-out .failed; the quick one is written") {
    val out = Files.createTempDirectory("graft-verify").toString
    val sleep = udf { (id: Long) => Thread.sleep(60000); id }
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "sleeper" -> ((s, _) => s.range(0, 1, 1, 1).select(sleep(col("id")).as("id"))),
      "quick" -> ((s, _) => s.range(0, 3, 1, 1).toDF()))
    // a session's first parquet write pays class loading and codegen,
    // which can exceed 2 s by itself; pay it before the timed dump
    queries(1)._2(spark, sfDir).write.parquet(s"$out/warm-up")
    val t0 = System.nanoTime()
    Verify.dump(spark, queries, sfDir, out, 2.seconds)
    val wallS = (System.nanoTime() - t0) / 1e9
    val reason = Files.readString(Paths.get(out, "sleeper.failed"))
    assert(reason.startsWith("timed out"), reason)
    assert(!Files.exists(Paths.get(out, "quick.failed")))
    assert(spark.read.parquet(s"$out/quick").count() == 3)
    assert(wallS < 15, s"dump took $wallS s")
  }
}
