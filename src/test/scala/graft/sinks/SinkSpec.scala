package graft.sinks

import graft.SparkSuite
import java.nio.file.Files

/** B12 — file sinks round-trip through Spark's distributed writers. */
class SinkSpec extends SparkSuite {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft-sink").toString

  private lazy val df = Seq((1L, "a", 10.5), (2L, "b", 20.0), (3L, "c", -1.0))
    .toDF("id", "name", "value")

  test("ndjson sink writes one JSON object per line") {
    val dir = s"${tmp()}/nd"
    FileSink.ndjson(df, dir)
    val back = spark.read.json(dir)
    assert(back.count() == 3)
    assert(back.columns.sorted.toSeq == Seq("id", "name", "value"))
  }

  test("csv sink honors header and round-trips") {
    val dir = s"${tmp()}/csv"
    FileSink.csv(df, dir)
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(dir)
    assert(back.count() == 3)
    assert(back.select("name").as[String].collect().sorted.toSeq == Seq("a", "b", "c"))
  }

  test("parquet sink round-trips exactly") {
    val dir = s"${tmp()}/pq"
    FileSink.parquet(df, dir)
    val back = spark.read.parquet(dir)
    assert(back.collect().toSet == df.collect().toSet)
  }

  test("orc sink round-trips exactly and reads back schema-pinned with pushdown") {
    val dir = s"${tmp()}/orc"
    FileSink.orc(df, dir)
    val back = graft.sources.FileSource.orc(spark, dir,
      org.apache.spark.sql.types.StructType.fromDDL("id LONG, name STRING, value DOUBLE"))
    assert(back.collect().toSet == df.collect().toSet)
    // columnar contract: a filtered, projected read pushes into the scan
    import org.apache.spark.sql.functions.col
    val plan = back.filter(col("id") === 2L).select("name")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), EqualTo(id,2)]"), plan)
    assert(!plan.contains("value"), "unused column must be pruned from the ORC scan")
  }

  test("snapshot layout is partition-prunable by sync and run") {
    val root = tmp()
    val p = FileSink.snapshot(df, root, "sync1", "run1")
    assert(p == s"$root/sync_id=sync1/run_id=run1")
    assert(spark.read.parquet(p).count() == 3)
  }

  test("vacuumSnapshots keeps the newest runs per sync, deletes the rest, reports paths") {
    val root = tmp()
    for (s <- Seq("s1", "s2"); r <- Seq("2024-01-01", "2024-01-02", "2024-01-03"))
      FileSink.snapshot(df, root, s, r)
    val deleted = FileSink.vacuumSnapshots(spark, root, keepRuns = 2)
    assert(deleted.size == 2 && deleted.forall(_.contains("run_id=2024-01-01")))
    // the survivors still read, newest runs intact
    val left = spark.read.parquet(s"$root/sync_id=s1/run_id=2024-01-03")
    assert(left.count() == 3)
    assert(!new java.io.File(s"$root/sync_id=s1/run_id=2024-01-01").exists)
    assert(new java.io.File(s"$root/sync_id=s2/run_id=2024-01-02").exists)
  }

  test("vacuumSnapshots orders counter run ids numerically: run 11 outlives run 9") {
    // SyncRunner.runDiff numbers its runs 1, 2, …; as strings "9" > "11"
    val root = tmp()
    val one = df.limit(1)
    for (r <- 1 to 11) FileSink.snapshot(one, root, "s", r.toString)
    val deleted = FileSink.vacuumSnapshots(spark, root, keepRuns = 1)
    assert(new java.io.File(s"$root/sync_id=s/run_id=11").exists, "the newest run was deleted")
    assert(deleted.map(_.split("run_id=").last.toInt).sorted == (1 to 10))
  }

  test("rangeLayout: disjoint per-file key ranges; a key filter touches few files") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val dir = tmp()
    FileSink.rangeLayout(docs, dir, Seq("source", "doc_id"), numFiles = 8)

    val back = spark.read.parquet(dir)
    assert(back.count() == docs.count(), "layout never changes content")

    // per-file (min, max) ranges of the leading sort key must not interleave:
    // every file's min is >= every other file's max or vice versa (equality
    // allowed at boundaries — a key can straddle two adjacent files)
    val ranges = back.groupBy(input_file_name().as("f"))
      .agg(min("source").as("lo"), max("source").as("hi"))
      .select("lo", "hi").as[(String, String)].collect().sortBy(_._1)
    assert(ranges.length > 1, "fixture must produce multiple files")
    ranges.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
      assert(hi1 <= lo2, s"file ranges interleave: $hi1 > $lo2")
    case _ => ()
    }

    // the payoff: one key's rows live in at most two adjacent files
    val touched = back.filter(col("source") === "src5")
      .select(input_file_name()).distinct().count()
    assert(touched <= 2, s"a single source must touch <= 2 files, got $touched")
  }
}
