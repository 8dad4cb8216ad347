package perfbench

import java.nio.file.{Files, Paths}

/** Records the catalog workload's expected outputs: each query's result
  * is dumped as parquet (for the DuckDB oracle comparison in
  * record_expected.py) together with its (rows, hash) digest and oracle SQL.
  *
  * Usage: perfbench.Record <sfDir> <dumpDir> <outFile>
  */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, dumpDir, out) = args
    val spark = graft.GraftSession.local(Runtime.getRuntime.availableProcessors(), "perfbench-record")
    spark.sparkContext.setLogLevel("WARN")
    val w = new CatalogWorkload(0L, sfDir, "")
    val entries = w.queries.sorted.map { q =>
      val df = graft.SparkEntry.queries(q)(spark, sfDir)
      df.write.mode("overwrite").parquet(s"$dumpDir/$q")
      val (rows, hash) = Digest.frame(spark.read.parquet(s"$dumpDir/$q"))
      val again = Digest.frame(graft.SparkEntry.queries(q)(spark, sfDir))
      require(again == ((rows, hash)), s"$q: digest of a re-run $again differs from the dump's")
      s"${Json.str(q)}:" + Json.obj("rows" -> rows.toString, "hash" -> Json.str(hash.toString),
        "sql" -> Json.str(graft.SparkEntry.oracleSql(q)))
    }
    Files.write(Paths.get(out), entries.mkString("{", ",", "}").getBytes("UTF-8"))
    spark.stop()
  }
}
