package graft.sync

import graft.SparkSuite
import graft.model.Model
import graft.state.StateStore
import graft.operators.Diff
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer

/** B14 — full sync pipeline: cursor checkpointing across runs, validation
  * gating, and the CDC (snapshot-diff) mode. */
class SyncRunnerSpec extends SparkSuite {
  import spark.implicits._

  private def ordersModel(valid: Boolean = true) = Model(
    name = "orders",
    build = s => s.read.parquet(s"$sfDir/orders.parquet"),
    keyCols = Seq("o_orderkey"),
    cursorCol = Some("o_orderdate"),
    validations =
      if (valid) Nil
      else Seq("price_positive" -> (_ => col("o_totalprice") < 0))) // everything invalid

  test("incremental sync: second run sees only rows past the checkpoint") {
    val store = StateStore.inMemory()
    val runner = new SyncRunner(store)
    val seen = ArrayBuffer.empty[Long]
    def sink(df: DataFrame): Unit = seen += df.count()

    val r1 = runner.run(spark, ordersModel(), "s1", sink)
    assert(r1.rowsIn > 0 && !r1.incremental)
    assert(store.get(Seq("syncId=s1", "$lastCursor")).isDefined)

    val r2 = runner.run(spark, ordersModel(), "s1", sink)
    assert(r2.incremental)
    assert(r2.rowsIn == 0, "no new rows past max cursor")
    assert(seen.head > 0 && seen(1) == 0)
    // checkpoint survives an empty increment
    assert(store.get(Seq("syncId=s1", "$lastCursor")) == r1.newCursor.map(identity))

    // B27: both runs left an auditable report in the store, oldest first
    val hist = runner.runHistory("s1")
    assert(hist.map(_._1) == Seq(0L, 1L))
    assert(hist.head._2.contains(s""""rowsIn":${r1.rowsIn}"""))
    assert(hist(1)._2.contains(""""rowsIn":0"""))
  }

  test("validation failures trip the error threshold before the sink runs") {
    val runner = new SyncRunner(StateStore.inMemory())
    var sinkRan = false
    val e = intercept[IllegalStateException] {
      runner.run(spark, ordersModel(valid = false), "s2", _ => sinkRan = true)
    }
    assert(e.getMessage.contains("error threshold"))
    assert(!sinkRan, "sink must not receive rows from an aborted sync")
  }

  test("run() scans the source exactly once per run (persisted validated frame)") {
    def fsBytesRead: Long = {
      val it = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator()
      var s = 0L
      while (it.hasNext) {
        val v = it.next().getLong("bytesRead")
        if (v != null) s += v.longValue()
      }
      s
    }
    // calibrate: what ONE full scan of the source actually reads
    val b0 = fsBytesRead
    spark.read.parquet(s"$sfDir/orders.parquet").collect()
    val oneScan = fsBytesRead - b0
    assert(oneScan > 0, "calibration scan must register in FS statistics")

    val runner = new SyncRunner(StateStore.inMemory())
    val before = fsBytesRead
    runner.run(spark, ordersModel(), "scan1", df => { df.collect(); () })
    val delta = fsBytesRead - before
    assert(delta > oneScan / 4, s"sanity: the source was read (saw $delta B vs $oneScan B per scan)")
    assert(delta < oneScan * 3 / 2,
      s"double source scan: $delta B read vs $oneScan B for one scan — stats and sink must share one materialization")
  }

  test("mid-run checkpoints: a killed run resumes without re-sinking done chunks") {
    val store = StateStore.inMemory()
    val runner = new SyncRunner(store)
    val total = spark.read.parquet(s"$sfDir/orders.parquet").count()
    val every = total / 4

    var calls = 0
    val firstRun = ArrayBuffer.empty[Long]
    def dyingSink(df: DataFrame): Unit = {
      calls += 1
      if (calls == 2) throw new RuntimeException("executor lost mid-sync")
      firstRun ++= df.select("o_orderkey").as[Long].collect()
    }
    intercept[RuntimeException] {
      runner.run(spark, ordersModel(), "ck1", dyingSink, checkpointEvery = Some(every))
    }
    assert(firstRun.nonEmpty, "chunk 1 reached the sink before the crash")
    assert(store.get(Seq("syncId=ck1", "$lastCursor")).isDefined,
      "chunk 1's upper cursor must be checkpointed mid-run")

    val resumed = ArrayBuffer.empty[Long]
    val rep = runner.run(spark, ordersModel(), "ck1",
      df => { resumed ++= df.select("o_orderkey").as[Long].collect(); () },
      checkpointEvery = Some(every))
    assert(rep.incremental && rep.chunks >= 1)
    assert(resumed.toSet.intersect(firstRun.toSet).isEmpty,
      "rows of the completed chunk must not be re-sunk after resume")
    assert(firstRun.size + resumed.size == total, "every row delivered exactly once across the crash")
  }

  /** A store whose `crashAt`-th `$lastCursor` write (0-based) throws: the
    * process died after a chunk's sink returned, before its checkpoint. */
  private final class CursorCrashStore(inner: StateStore, crashAt: Int) extends StateStore {
    private var cursorWrites = 0
    override def get(key: Seq[String]): Option[String] = inner.get(key)
    override def set(key: Seq[String], value: String): Unit = {
      if (key.last == "$lastCursor") {
        if (cursorWrites == crashAt) throw new java.io.IOException("state store lost mid-run")
        cursorWrites += 1
      }
      inner.set(key, value)
    }
    override def del(key: Seq[String]): Unit = inner.del(key)
    override def list(prefix: Seq[String]): Seq[(Seq[String], String)] = inner.list(prefix)
    override def deleteByPrefix(prefix: Seq[String]): Int = inner.deleteByPrefix(prefix)
  }

  /** One crash of a chunked run: chunk `chunk` (0-based) dies either in the
    * sink after `part` of its keys reached the destination, or in its
    * `$lastCursor` write after the sink returned. */
  private final case class Crash(every: Long, chunk: Int, inSink: Boolean, part: Double)

  test("crash-resume property: a chunked run killed anywhere loses no key and re-delivers one chunk at most") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val all = spark.read.parquet(s"$sfDir/orders.parquet").select("o_orderkey").as[Long].collect().toSet
    val total = all.size.toLong
    // every in [total/6, total/3] plans 3-6 chunks, so chunks 0-2 always exist
    val crashGen = for {
      every <- Gen.choose(total / 6, total / 3)
      chunk <- Gen.choose(0, 2)
      inSink <- Gen.oneOf(true, false)
      part <- Gen.choose(0.0, 1.0)
    } yield Crash(every, chunk, inSink, part)
    val cases = (0 until 8).flatMap(i => crashGen(Gen.Parameters.default, Seed(1400L + i)))
    assert(cases.size == 8 && cases.exists(_.inSink) && cases.exists(!_.inSink))

    cases.zipWithIndex.foreach { case (c, i) =>
      val store = StateStore.inMemory()
      val syncId = s"prop$i"
      val firstRun = ArrayBuffer.empty[Set[Long]] // the keys each chunk delivered
      def crashingSink(df: DataFrame): Unit = {
        val keys = df.select("o_orderkey").as[Long].collect()
        if (c.inSink && firstRun.size == c.chunk) {
          firstRun += keys.take((keys.length * c.part).toInt).toSet
          throw new RuntimeException("destination lost mid-chunk")
        }
        firstRun += keys.toSet
      }
      val crashStore = if (c.inSink) store else new CursorCrashStore(store, c.chunk)
      intercept[Exception] {
        new SyncRunner(crashStore).run(spark, ordersModel(), syncId, crashingSink,
          checkpointEvery = Some(c.every))
      }
      assert(firstRun.size == c.chunk + 1, s"$c: the run died in chunk ${c.chunk}")

      val resumed = ArrayBuffer.empty[Long]
      new SyncRunner(store).run(spark, ordersModel(), syncId,
        df => { resumed ++= df.select("o_orderkey").as[Long].collect(); () },
        checkpointEvery = Some(c.every))
      val delivered = firstRun.flatten.toSet
      assert(delivered ++ resumed == all, s"$c: ${(all -- delivered -- resumed).size} keys lost")
      assert(resumed.size == resumed.toSet.size, s"$c: the resumed run delivered a key twice")
      val again = resumed.toSet.intersect(delivered)
      assert(again.subsetOf(firstRun(c.chunk)),
        s"$c: ${(again -- firstRun(c.chunk)).size} re-delivered keys come from chunks the run had checkpointed")
    }
  }

  test("run history: a cursor holding a quote and a backslash leaves a parseable $runs record") {
    import org.json4s._
    val cursor = "a\"b\\c"
    val m = Model(
      name = "quoted",
      build = s => Seq((1L, "a"), (2L, cursor)).toDF("id", "c"),
      keyCols = Seq("id"),
      cursorCol = Some("c"))
    val runner = new SyncRunner(StateStore.inMemory())
    val rep = runner.run(spark, m, "esc", df => { df.count(); () })
    assert(rep.newCursor.contains(cursor))
    val Seq((_, record)) = runner.runHistory("esc")
    val parsed = scala.util.Try(org.json4s.jackson.JsonMethods.parse(record))
    assert(parsed.isSuccess, s"unparseable run record: $record")
    assert(parsed.get \ "newCursor" == JString(cursor))
    assert(parsed.get \ "rowsIn" == JInt(2))
  }

  test("chunked planning stays driver-bounded with a near-unique cursor") {
    // the reference's canonical cursor is a timestamp — near-unique per
    // row. Chunk planning must collect ~n/every bounds, NOT the full
    // per-value histogram (≈ the row count). o_orderkey is unique per
    // row: the worst case.
    val store = StateStore.inMemory()
    val runner = new SyncRunner(store)
    val m = Model(
      name = "orders",
      build = s => s.read.parquet(s"$sfDir/orders.parquet"),
      keyCols = Seq("o_orderkey"),
      cursorCol = Some("o_orderkey"))
    val total = spark.read.parquet(s"$sfDir/orders.parquet").count()
    val every = total / 8

    val seen = ArrayBuffer.empty[Long]
    val rep = runner.run(spark, m, "hc1",
      df => { seen ++= df.select("o_orderkey").as[Long].collect(); () },
      checkpointEvery = Some(every))
    assert(rep.rowsIn == total)
    assert(seen.size == total && seen.toSet.size == total, "every row delivered exactly once")
    // sampling-based range split: ~8 chunks, never anywhere near `total`
    assert(rep.chunks >= 4 && rep.chunks <= 16,
      s"expected ~8 range-split chunks for every=$every over $total unique cursor values, got ${rep.chunks}")
    // checkpoint is the true max cursor, as a resumable string
    assert(store.get(Seq("syncId=hc1", "$lastCursor")) == Some(seen.max.toString))

    // crash mid-run with the same near-unique cursor → resume delivers the rest
    val store2 = StateStore.inMemory()
    val runner2 = new SyncRunner(store2)
    var calls = 0
    val first = ArrayBuffer.empty[Long]
    intercept[RuntimeException] {
      runner2.run(spark, m, "hc2", df => {
        calls += 1
        if (calls == 3) throw new RuntimeException("lost mid-sync")
        first ++= df.select("o_orderkey").as[Long].collect()
      }, checkpointEvery = Some(every))
    }
    val resumed = ArrayBuffer.empty[Long]
    runner2.run(spark, m, "hc2",
      df => { resumed ++= df.select("o_orderkey").as[Long].collect(); () },
      checkpointEvery = Some(every))
    assert(first.toSet.intersect(resumed.toSet).isEmpty, "completed chunks are not re-sunk")
    assert(first.size + resumed.size == total, "exactly-once across the crash with a unique cursor")
  }

  test("invalid rows advance the cursor identically in chunked and un-chunked runs") {
    // mark the latest-cursor rows invalid: the cursor is a STREAM POSITION,
    // so both modes must checkpoint past them (skipped, not retried)
    val maxDate = spark.read.parquet(s"$sfDir/orders.parquet")
      .agg(max(col("o_orderdate")).cast("string")).as[String].collect()(0)
    def m = Model(
      name = "orders",
      build = s => s.read.parquet(s"$sfDir/orders.parquet"),
      keyCols = Seq("o_orderkey"),
      cursorCol = Some("o_orderdate"),
      validations = Seq("not_last_day" -> (_ => col("o_orderdate") < lit(maxDate))))
    val total = spark.read.parquet(s"$sfDir/orders.parquet").count()

    val stU = StateStore.inMemory()
    val repU = new SyncRunner(stU).run(spark, m, "u", df => { df.count(); () })
    val stC = StateStore.inMemory()
    val repC = new SyncRunner(stC).run(spark, m, "c", df => { df.count(); () },
      checkpointEvery = Some(total / 4))

    val ckU = stU.get(Seq("syncId=u", "$lastCursor"))
    val ckC = stC.get(Seq("syncId=c", "$lastCursor"))
    assert(ckU == Some(maxDate) && ckC == Some(maxDate),
      s"both modes must checkpoint the max PROCESSED cursor ($maxDate); got un-chunked=$ckU chunked=$ckC")
    assert(repU.rowsInvalid > 0 && repU.rowsInvalid == repC.rowsInvalid)

    // replay semantics now identical: a second run in EITHER mode sees nothing
    val againU = new SyncRunner(stU).run(spark, m, "u", df => { df.count(); () })
    assert(againU.rowsIn == 0, "skipped rows are reported, not retried")
  }

  test("enrichment expands row -> rows between validation and column mapping") {
    val runner = new SyncRunner(StateStore.inMemory())
    val tags = Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("tid", "tag")
    val m = Model("users",
      s => Seq((1L, "ann"), (2L, "bob"), (3L, "eve")).toDF("id", "name"),
      keyCols = Seq("id"),
      columnMap = Some(Seq(
        "user_id" -> (_ => col("id")),
        "tag"     -> (_ => col("tag")))))  // produced by the enrich join
    var got: Seq[(Long, String)] = Nil
    runner.run(spark, m, "e1",
      df => { got = df.as[(Long, String)].collect().toSeq; () },
      enrich = df => df.join(tags, df("id") === tags("tid")))
    assert(got.sorted == Seq((1L, "a"), (1L, "b"), (2L, "c")),
      "matching rows multiply, the mapping projects enrichment columns")
  }

  test("runDiff emits insert-all on first run, then only changes") {
    val store = StateStore.inMemory()
    val runner = new SyncRunner(store)
    val root = Files.createTempDirectory("graft-snap").toString
    var last: DataFrame = null

    val m1 = Model("docs", s => Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "name", "v"),
      keyCols = Seq("id"))
    runner.runDiff(spark, m1, "d1", root, df => last = df.cache())
    assert(last.select(Diff.ChangeCol).as[String].collect().toSet == Set("insert"))
    assert(last.count() == 2)

    // run 2: 1 unchanged, 2 updated, 3 inserted, and... nothing deleted
    val m2 = Model("docs", s => Seq((1L, "a", 10.0), (2L, "b", 99.0), (3L, "c", 30.0)).toDF("id", "name", "v"),
      keyCols = Seq("id"))
    runner.runDiff(spark, m2, "d1", root, df => last = df.cache())
    val changes = last.select(col("id"), col(Diff.ChangeCol)).as[(Long, String)].collect().toMap
    assert(changes == Map(2L -> "update", 3L -> "insert"))

    // run 3: delete id=3
    runner.runDiff(spark, m1, "d1", root, df => last = df.cache())
    val changes3 = last.select(col("id"), col(Diff.ChangeCol)).as[(Long, String)].collect().toMap
    assert(changes3 == Map(2L -> "update", 3L -> "delete"))
  }

  test("B46: runDiff evolves through safe schema drift, halts on lossy drift") {
    val store = StateStore.inMemory()
    val runner = new SyncRunner(store)
    val root = Files.createTempDirectory("graft-drift").toString
    var last: DataFrame = null

    val m1 = Model("docs", s => Seq((1L, 10), (2L, 20)).toDF("id", "v"),
      keyCols = Seq("id"))
    runner.runDiff(spark, m1, "dd", root, df => last = df.cache())
    assert(last.count() == 2)

    // safe drift: v widens int→long, nullable column appears; only rows
    // whose VALUES changed (or gained a non-null tag) show up
    val m2 = Model("docs",
      s => Seq((1L, 10L, Option.empty[String]), (2L, 21L, Some("x")))
        .toDF("id", "v", "tag"),
      keyCols = Seq("id"))
    runner.runDiff(spark, m2, "dd", root, df => last = df.cache())
    val ch = last.select(col("id"), col(Diff.ChangeCol)).as[(Long, String)].collect().toMap
    assert(ch == Map(2L -> "update"), s"got $ch")

    // lossy drift: dropping a column must halt with the per-column plan
    val m3 = Model("docs", s => Seq((1L, 10L)).toDF("id", "v"), keyCols = Seq("id"))
    val err = intercept[IllegalArgumentException] {
      runner.runDiff(spark, m3, "dd", root, df => { df.count(); () })
    }
    assert(err.getMessage.contains("tag") && err.getMessage.contains("removed"))
  }

  test("snapshot diff distinguishes null from empty payloads") {
    val curr = Seq((1L, Option.empty[String]), (2L, Some(""))).toDF("id", "s")
    val prev = Seq((1L, Some("")), (2L, Some(""))).toDF("id", "s")
    val d = Diff.snapshotDiff(curr, prev, Seq("id"))
    assert(d.select("id", Diff.ChangeCol).as[(Long, String)].collect().toMap == Map(1L -> "update"))
  }
}
