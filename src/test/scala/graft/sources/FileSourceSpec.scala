package graft.sources

import graft.SparkSuite
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Paths}

/** Schema-explicit ndjson/csv ingest with dead-letter routing for
  * malformed rows (PERMISSIVE + corrupt-record column). */
class FileSourceSpec extends SparkSuite {
  import spark.implicits._

  private val schema = StructType.fromDDL("id BIGINT, email STRING, score DOUBLE")

  private def write(dir: String, name: String, lines: Seq[String]): String = {
    val p = Paths.get(dir, name)
    Files.writeString(p, lines.mkString("\n"))
    p.toString
  }

  test("ndjson: good rows parse, malformed lines dead-letter, none lost") {
    val dir = Files.createTempDirectory("graft-src").toString
    val f = write(dir, "in.ndjson", Seq(
      """{"id": 1, "email": "a@b.c", "score": 0.5}""",
      """{"id": 2, "email": "x@y.z"}""",
      """not json at all""",
      """{"id": 3, "email": "q@r.s", "score": 1.5}"""))
    val (good, bad) = FileSource.splitCorrupt(FileSource.ndjson(spark, f, schema))
    assert(good.count() == 3, "missing fields are nulls, not corruption")
    assert(bad.count() == 1)
    assert(bad.select(FileSource.CorruptCol).as[String].head().contains("not json"))
    assert(good.columns.toSeq == Seq("id", "email", "score"))
  }

  test("splitCorrupt leaves no session cache entry: a later read of the path sees new files") {
    val dir = Files.createTempDirectory("graft-src").toString
    write(dir, "a.ndjson", Seq(
      """{"id": 1, "email": "a@b.c", "score": 0.5}""",
      """{"id": 2, "email": "x@y.z", "score": 1.0}""",
      """not json at all"""))
    val (good, bad) = FileSource.splitCorrupt(FileSource.ndjson(spark, dir, schema))
    assert(good.count() == 2 && bad.count() == 1)
    write(dir, "b.ndjson", Seq("""{"id": 3, "email": "q@r.s", "score": 1.5}"""))
    val (good2, bad2) = FileSource.splitCorrupt(FileSource.ndjson(spark, dir, schema))
    assert(good2.count() == 3, "the second split must see the added file")
    assert(bad2.count() == 1)
    assert(FileSource.ndjson(spark, dir, schema).count() == 4,
      "a plain read must not be served the first split's rows")
  }

  test("replayDeadLetters: a widened schema recovers quarantined rows; residue stays dead") {
    val dir = Files.createTempDirectory("graft-src").toString
    // id arrives as a string in some rows — dead under BIGINT, fine under STRING
    val f = write(dir, "in.ndjson", Seq(
      """{"id": 1, "email": "a@b.c", "score": 0.5}""",
      """{"id": "K-17", "email": "x@y.z", "score": 1.0}""",
      """{"id": "K-18", "email": "w@v.u", "score": 2.0}""",
      """utter garbage"""))
    val (good, bad) = FileSource.splitCorrupt(FileSource.ndjson(spark, f, schema))
    assert(good.count() == 1 && bad.count() == 3)
    // fix: id widened to STRING → the two K-rows recover, garbage stays dead
    val fixed = StructType.fromDDL("id STRING, email STRING, score DOUBLE")
    val (recovered, stillDead) = FileSource.replayDeadLetters(bad, fixed)
    assert(recovered.count() == 2)
    assert(recovered.select("id").as[String].collect().sorted.toSeq == Seq("K-17", "K-18"))
    assert(stillDead.count() == 1)
    assert(stillDead.select(FileSource.CorruptCol).as[String].head().contains("garbage"),
      "the raw line must survive every replay round")
  }

  test("csv: explicit schema, header honored, type-mismatch rows dead-letter") {
    val dir = Files.createTempDirectory("graft-src").toString
    val f = write(dir, "in.csv", Seq(
      "id,email,score",
      "1,a@b.c,0.5",
      "oops,broken,row",
      "2,x@y.z,1.25"))
    val (good, bad) = FileSource.splitCorrupt(FileSource.csv(spark, f, schema))
    assert(good.count() == 2)
    assert(bad.count() == 1)
    val ids = good.select("id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L))
  }
}
