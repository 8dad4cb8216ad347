package graft.project

import graft.SparkSuite
import graft.sinks.RestSink
import graft.state.StateStore
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Recording transport: static state, so the shipped closure carries no
  * outer spec reference (local[n] still serializes task closures). */
object ProjectSpecRecorder {
  import scala.collection.mutable
  private val batchSizes = mutable.Buffer.empty[Int]

  final class Recorder extends RestSink.Transport {
    ProjectSpecRecorder.synchronized { batchSizes.clear() }
    override def send(batch: Seq[Map[String, Any]]): Unit =
      ProjectSpecRecorder.synchronized { batchSizes += batch.size; () }
    def batches: Seq[Int] = ProjectSpecRecorder.synchronized { batchSizes.toSeq }
    def rows: Long = batches.map(_.toLong).sum
  }

  private val keyBuf = mutable.Buffer.empty[String]

  /** Records the `o_orderkey` of every delivered row. */
  final class KeyRecorder extends RestSink.Transport {
    ProjectSpecRecorder.synchronized { keyBuf.clear() }
    override def send(batch: Seq[Map[String, Any]]): Unit =
      ProjectSpecRecorder.synchronized { batch.foreach(r => keyBuf += String.valueOf(r("o_orderkey"))) }
    def keys: Seq[String] = ProjectSpecRecorder.synchronized { keyBuf.toSeq }
  }
}

/** B22 — loading and running a syncmaven-style project directory. */
class ProjectSpec extends SparkSuite {

  private def write(dir: String, rel: String, text: String): Unit = {
    val p = Paths.get(dir, rel)
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes("UTF-8"))
    ()
  }

  private def makeProject(): String = {
    val dir = Files.createTempDirectory("graft-project").toString
    write(dir, "models/orders_model.sql",
      s"""--{{ config "name" "Open Orders" }}
         |--{{ config "datasource" env.WAREHOUSE }}
         |--{{ config "cursor" "o_orderdate" }}
         |--{{ config "primaryKey" "o_orderkey" }}
         |SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
         |FROM orders
         |WHERE :cursor IS NULL OR o_orderdate > :cursor
         |""".stripMargin)
    write(dir, "connections/fb.yaml",
      """package:
        |  type: docker
        |  image: syncmaven/facebook:latest
        |credentials:
        |  accessToken: ${env.FB_TOKEN}
        |  accountId: "12345"
        |""".stripMargin)
    write(dir, "syncs/orders_to_fb.yaml",
      """model: orders_model
        |destination: fb
        |options:
        |  checkpointEvery: 400
        |""".stripMargin)
    write(dir, ".env", "FB_TOKEN=from_env\nUNUSED=x\n")
    write(dir, ".env.local", "FB_TOKEN=from_env_local\n")
    dir
  }

  import ProjectSpecRecorder.{KeyRecorder, Recorder}

  test("yaml subset: nesting, lists, scalars, quoting") {
    val y = Yaml.parse(
      """a: 1
        |b: text with: colon
        |c:
        |  d: true
        |  e: "quoted: str"
        |list:
        |  - x
        |  - 2
        |maps:
        |  - k: v1
        |  - k: v2
        |""".stripMargin)
    assert(y("a") == 1L && y("b") == "text with: colon")
    assert(y("c") == Map("d" -> true, "e" -> "quoted: str"))
    assert(y("list") == List("x", 2L))
    assert(y("maps") == List(Map("k" -> "v1"), Map("k" -> "v2")))
  }

  test("yaml subset: a trailing bare dash is an empty list item, not a crash") {
    // end of input after the dash
    val y1 = Yaml.parse("list:\n  - x\n  -\n")
    assert(y1("list") == List("x", null))
    // dash followed only by a SHALLOWER-indented sibling: the sibling must
    // not be swallowed as the list item's nested block
    val y2 = Yaml.parse("outer:\n  list:\n    - x\n    -\n  after: 7\n")
    assert(y2("outer") == Map("list" -> List("x", null), "after" -> 7L))
  }

  test("env layering and substitution: .env.local wins; bad placeholders fail loudly") {
    val dir = makeProject()
    val env = EnvVars.projectEnv(dir, Nil, base = Map("WAREHOUSE" -> s"parquet:$sfDir"))
    assert(env("FB_TOKEN") == "from_env_local", ".env.local must override .env")
    val e = intercept[IllegalArgumentException](
      EnvVars.substitute("x ${TOKEN} y", env, "f.yaml"))
    assert(e.getMessage.contains("Did you mean ${env.TOKEN}"))
    val e2 = intercept[IllegalArgumentException](
      EnvVars.substitute("${env.NO_SUCH_VAR_XYZ}", env, "f.yaml"))
    assert(e2.getMessage.contains("not defined"))
    // ${env.NAME:default} — the reference's defaultVal path (template.ts:20-27)
    assert(EnvVars.substitute("${env.NO_SUCH_VAR_XYZ:fallback}", env, "f.yaml") == "fallback")
    assert(EnvVars.substitute("${env.FB_TOKEN:unused_default}", env, "f.yaml") == "from_env_local",
      "a set variable beats its default")
    // MALFORMED placeholders (don't even match the well-formed shape)
    // must still fail loudly, never pass through as literal text
    for (bad <- Seq("${env NAME}", "${env.NAME!}", "${ env.NAME }", "${}"))
      assert(intercept[IllegalArgumentException](
        EnvVars.substitute(s"a $bad b", env, "f.yaml"))
        .getMessage.contains("Unsupported placeholder"), s"must reject $bad")
    // ...but a substituted VALUE containing ${ is fine (scan is pre-substitution)
    val envDollar = env + ("WEIRD" -> "literal ${not a placeholder")
    assert(EnvVars.substitute("${env.WEIRD}", envDollar, "f.yaml")
      .startsWith("literal ${"))
  }

  test("project load: sql-directive models, image-kind connections, syncs") {
    val dir = makeProject()
    val proj = ProjectLoader.load(dir, baseEnv = Map("WAREHOUSE" -> s"parquet:$sfDir"))
    val m = proj.models("orders_model")
    assert(m.name == "Open Orders" && m.datasource == s"parquet:$sfDir")
    assert(m.cursor.contains("o_orderdate") && m.keys == Seq("o_orderkey"))
    assert(m.sql.startsWith("SELECT") && m.sql.contains(":cursor") && !m.sql.contains("config"))
    val c = proj.connections("fb")
    assert(c.kind == "facebook-ads", s"image basename must map to the profile family, got ${c.kind}")
    assert(c.credentials("accessToken") == "from_env_local", "credentials substitute from env")
    assert(proj.syncs("orders_to_fb").options("checkpointEvery") == 400L)
  }

  test("describe-streams pre-flight: the fb sync's model does not fit the audience stream") {
    import graft.sinks.Destinations._
    val proj = ProjectLoader.load(makeProject(), baseEnv = Map("WAREHOUSE" -> s"parquet:$sfDir"))
    val issues = proj.modelFit(spark, "orders_to_fb")
    // the model emits order columns, not audience rows: email is missing
    // and every order column would be silently dropped by the connector
    assert(issues.contains(MissingRequired("email")))
    assert(issues.collect { case DroppedExtra(c) => c }.toSet ==
      Set("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"))
  }

  test("model schema directive generates validation rules that gate the sync") {
    val dir = makeProject()
    // "1-URGENT" etc. never try_casts to INT → every row fails the
    // generated _type rule → the 20%/100-row threshold trips
    write(dir, "models/bad_schema.sql",
      s"""--{{ config "datasource" env.WAREHOUSE }}
         |--{{ config "schema" "o_orderpriority INT" }}
         |SELECT o_orderkey, o_orderpriority FROM orders
         |""".stripMargin)
    write(dir, "syncs/bad.yaml", "model: bad_schema\ndestination: fb\n")
    val proj = ProjectLoader.load(dir, baseEnv = Map("WAREHOUSE" -> s"parquet:$sfDir"))
    val e = intercept[IllegalStateException](
      proj.runSync(spark, "bad", StateStore.inMemory(), new Recorder))
    assert(e.getMessage.contains("error threshold"))

    // a truthful schema sails through with every row valid
    write(dir, "models/good_schema.sql",
      s"""--{{ config "datasource" env.WAREHOUSE }}
         |--{{ config "schema" "o_orderkey BIGINT, o_totalprice DOUBLE" }}
         |SELECT o_orderkey, o_totalprice FROM orders
         |""".stripMargin)
    write(dir, "syncs/good.yaml", "model: good_schema\ndestination: fb\n")
    val proj2 = ProjectLoader.load(dir, baseEnv = Map("WAREHOUSE" -> s"parquet:$sfDir"))
    val r = proj2.runSync(spark, "good", StateStore.inMemory(), new Recorder)
    assert(r.rowsIn > 0 && r.rowsInvalid == 0)
  }

  test("enrichment channels: sync-declared connections expand rows via registered providers") {
    val dir = makeProject()
    write(dir, "connections/prio_tags.yaml",
      """kind: tag-service
        |credentials:
        |  url: http://tags.internal
        |""".stripMargin)
    write(dir, "syncs/enriched.yaml",
      """model: orders_model
        |destination: fb
        |enrichments:
        |  - connection: prio_tags
        |    options:
        |      column: o_orderkey
        |""".stripMargin)
    val proj = ProjectLoader.load(dir, baseEnv = Map("WAREHOUSE" -> s"parquet:$sfDir"))
    assert(proj.syncs("enriched").enrichments ==
      Seq(ProjectLoader.EnrichmentRef("prio_tags", Map("column" -> "o_orderkey"))))

    import org.apache.spark.sql.functions._
    val provider: ProjectLoader.EnrichProvider = (conn, opts) => { df =>
      assert(conn.kind == "tag-service" && opts("column") == "o_orderkey")
      df.withColumn("tag", explode(array(lit("a"), lit("b")))) // row -> 2 rows
    }
    val store = StateStore.inMemory()
    val rec = new Recorder
    val total = spark.read.parquet(s"$sfDir/orders.parquet").count()
    val r = proj.runSync(spark, "enriched", store, rec,
      enrichProviders = Map("tag-service" -> provider))
    assert(r.rowsIn == total, "report counts SOURCE rows")
    assert(rec.rows == 2 * total, "each row expands to two enriched rows at the destination")

    val e = intercept[IllegalArgumentException](
      proj.runSync(spark, "enriched", StateStore.inMemory(), new Recorder))
    assert(e.getMessage.contains("no enrichment provider"), "unregistered kinds fail loudly")
  }

  test("runSync: project sync runs end-to-end, checkpoints, resumes incrementally") {
    val dir = makeProject()
    val proj = ProjectLoader.load(dir, baseEnv = Map("WAREHOUSE" -> s"parquet:$sfDir"))
    val store = StateStore.inMemory()
    val rec = new Recorder
    val total = spark.read.parquet(s"$sfDir/orders.parquet").count()

    val r1 = proj.runSync(spark, "orders_to_fb", store, rec)
    assert(r1.rowsIn == total && rec.rows == total, "every order reaches the destination")
    assert(rec.batches.forall(_ <= 1000), "facebook profile: 1000-row audience batches")
    assert(r1.chunks > 1, "checkpointEvery=400 must chunk the run")
    assert(store.get(Seq("syncId=orders_to_fb", "$lastCursor")).isDefined)

    val rec2 = new Recorder
    val r2 = proj.runSync(spark, "orders_to_fb", store, rec2)
    assert(r2.rowsIn == 0 && rec2.rows == 0, "second run is incremental: nothing new")

    // a sync file can pin fullRefresh — the stored cursor is ignored
    write(dir, "syncs/orders_refresh.yaml",
      "model: orders_model\ndestination: fb\noptions:\n  fullRefresh: true\n")
    val proj2 = ProjectLoader.load(dir, baseEnv = Map("WAREHOUSE" -> s"parquet:$sfDir"))
    val rec3 = new Recorder
    val r3 = proj2.runSync(spark, "orders_refresh", store, rec3)
    assert(r3.rowsIn == total && rec3.rows == total,
      "options.fullRefresh replays the full model output despite the cursor")
  }

  test("planSync: dry-run prices the increment, the batches, and the rate floor — no rows move") {
    val dir = makeProject()
    val proj = ProjectLoader.load(dir, baseEnv = Map("WAREHOUSE" -> s"parquet:$sfDir"))
    val store = StateStore.inMemory()
    val total = spark.read.parquet(s"$sfDir/orders.parquet").count()

    val p1 = proj.planSync(spark, "orders_to_fb", store)
    assert(p1.rows == total && p1.lastCursor.isEmpty)
    assert(p1.destinationKind == "facebook-ads")
    assert(p1.delivery.batches == (total + 999) / 1000, "fb profile: 1000-row batches")
    assert(store.get(Seq("syncId=orders_to_fb", "$lastCursor")).isEmpty,
      "a dry run must not checkpoint anything")

    // after a real run the plan prices only the NEW increment
    proj.runSync(spark, "orders_to_fb", store, new Recorder)
    val p2 = proj.planSync(spark, "orders_to_fb", store)
    assert(p2.rows == 0 && p2.lastCursor.isDefined, "cursor-aware: nothing new to sync")
    // fullRefresh prices the whole table again
    assert(proj.planSync(spark, "orders_to_fb", store, fullRefresh = true).rows == total)
  }

  test("runContinuous: streaming project sync through the full pipeline; checkpoint + batch markers") {
    val dir = makeProject()
    write(dir, "models/orders_stream.sql",
      s"""--{{ config "datasource" env.WAREHOUSE }}
         |SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         |""".stripMargin)
    write(dir, "syncs/continuous.yaml",
      """model: orders_stream
        |destination: fb
        |options:
        |  streamTable: orders
        |""".stripMargin)
    val proj = ProjectLoader.load(dir, baseEnv = Map("WAREHOUSE" -> s"parquet:$sfDir"))
    val store = StateStore.inMemory()
    val ckpt = Files.createTempDirectory("graft-cont-ckpt").toString
    val rec = new Recorder
    val total = spark.read.parquet(s"$sfDir/orders.parquet").count()

    val reports = proj.runContinuous(spark, "continuous", store, rec, ckpt)
    assert(reports.map(_.rowsIn).sum == total && rec.rows == total,
      "every order flows through the micro-batch pipeline to the destination")
    assert(rec.batches.forall(_ <= 1000), "destination profile applies per micro-batch")
    assert(reports.forall(r =>
      store.get(Seq("syncId=continuous", "$batches", r.batchId.toString)).isDefined),
      "each completed batch leaves a marker in the state store")

    // resume from the stream checkpoint: no new files, no batches
    val rec2 = new Recorder
    val again = proj.runContinuous(spark, "continuous", store, rec2, ckpt)
    assert(again.isEmpty && rec2.rows == 0, "checkpoint resume processes nothing new")

    // fresh checkpoint, same store: batch ids restart at 0, markers catch the replay
    val rec3 = new Recorder
    val replay = proj.runContinuous(spark, "continuous", store, rec3,
      Files.createTempDirectory("graft-cont-ckpt2").toString)
    assert(replay.isEmpty && rec3.rows == 0, "marker-present batches skip the sink entirely")
  }

  test("runContinuous: a restarted stream reuses its compiled code and delivers only the new file") {
    import org.apache.spark.sql.functions._
    // a writable copy of the datasource, with orders as a directory that
    // new files land in
    val ds = Files.createTempDirectory("graft-cont-ds")
    Files.createDirectories(ds.resolve("orders.parquet"))
    Files.copy(Paths.get(s"$sfDir/orders.parquet"), ds.resolve("orders.parquet/base.parquet"))
    /** Land 40 re-keyed orders as one new parquet file; its keys. */
    def land(i: Int): Set[String] = {
      val staging = Files.createTempDirectory("graft-cont-land").resolve("out")
      spark.read.parquet(s"$sfDir/orders.parquet").limit(40)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000L * (i + 1))
        .coalesce(1).write.parquet(staging.toString)
      val st = Files.list(staging)
      val part = try st.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq.head
        finally st.close()
      val dest = ds.resolve(s"orders.parquet/inc-$i.parquet")
      Files.move(part, dest, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      spark.read.parquet(dest.toString).select("o_orderkey").collect().map(r => String.valueOf(r.get(0))).toSet
    }
    val dir = makeProject()
    write(dir, "models/orders_stream.sql",
      s"""--{{ config "datasource" env.WAREHOUSE }}
         |SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         |""".stripMargin)
    write(dir, "syncs/continuous.yaml",
      "model: orders_stream\ndestination: fb\noptions:\n  streamTable: orders\n")
    val proj = ProjectLoader.load(dir, baseEnv = Map("WAREHOUSE" -> s"parquet:$ds"))
    val store = StateStore.inMemory()
    val ckpt = Files.createTempDirectory("graft-cont-reuse-ckpt").toString
    def compiles: Long = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    val baseRows = spark.read.parquet(s"$sfDir/orders.parquet").count()
    land(0)
    val rec1 = new KeyRecorder
    proj.runContinuous(spark, "continuous", store, rec1, ckpt)
    assert(rec1.keys.size == baseRows + 40, "first start delivers the base file and the first increment")
    land(1)
    proj.runContinuous(spark, "continuous", store, new KeyRecorder, ckpt)
    val newKeys = land(2)
    val rec3 = new KeyRecorder
    val before = compiles
    proj.runContinuous(spark, "continuous", store, rec3, ckpt)
    val compiled = compiles - before
    assert(rec3.keys.size == newKeys.size && rec3.keys.toSet == newKeys,
      s"third start delivered ${rec3.keys.size} rows, the new file has ${newKeys.size}")
    assert(compiled == 0,
      s"third start compiled $compiled classes: a restarted stream must reuse its earlier starts' code")
  }

  test("continuous curation sync: validate → near-dup probe → shard assign → destination, with replay") {
    // B25 + B20 + D13 + D22 + B13 composed as ONE continuous pipeline
    // over a growing source directory, across two stream invocations
    // and a full replay.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import graft.streaming.EventStreams
    import spark.implicits._

    val in = Files.createTempDirectory("graft-curate-in").toString
    val root = Files.createTempDirectory("graft-curate-root").toString
    val ckpt = Files.createTempDirectory("graft-curate-ckpt").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    def doc(i: Long, salt: String) =
      (i, s"alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima " +
        s"mike november oscar papa quebec romeo sierra tango uniform victor $salt")

    // wave 1: 5 clean docs + 1 invalid (null text → fails text_required)
    val wave1 = (1L to 5L).map(i => doc(i, s"w1x$i")) :+ ((6L, null: String))
    wave1.toDF("doc_id", "text").write.mode("append").parquet(in)
    val stream = () => spark.readStream.schema(schema).parquet(in)
    // (doc_id, shard_id) rows the destination saw; the sink callback runs
    // on the streaming thread, so guard the buffer
    val deliveredBuf = new java.util.concurrent.CopyOnWriteArrayList[(Long, Long)]()
    def delivered = scala.jdk.CollectionConverters.ListHasAsScala(deliveredBuf).asScala.toSeq
    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit = (df, _) =>
      df.select("doc_id", "shard_id").as[(Long, Long)].collect().foreach(deliveredBuf.add)

    val r1 = EventStreams.curationSync(stream(), schema, root, ckpt, shardTokens = 50L)(sink)
    assert(r1.map(_.rowsIn).sum == 6 && r1.map(_.invalid).sum == 1 && r1.map(_.dups).sum == 0)
    assert(r1.map(_.kept).sum == 5 && delivered.map(_._1).toSet == (1L to 5L).toSet)
    assert(spark.read.parquet(s"$root/rejects/v0").count() == 1, "invalid row quarantined")

    // wave 2: one NEAR-DUP of doc 3 (one salt token differs → jaccard ≥ 0.7
    // against the index built by wave 1) + one genuinely new doc
    Seq(doc(103L, "w1x3 extra"),
        (200L, "zero one two three four five six seven eight nine ten eleven twelve " +
          "thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty done"))
      .toDF("doc_id", "text").write.mode("append").parquet(in)
    val r2 = EventStreams.curationSync(stream(), schema, root, ckpt, shardTokens = 50L)(sink)
    assert(r2.map(_.rowsIn).sum == 2 && r2.map(_.dups).sum == 1 && r2.map(_.kept).sum == 1,
      s"cross-batch near-dup must be dropped via the persisted index, got $r2")
    assert(delivered.map(_._1).count(_ == 200L) == 1 && !delivered.map(_._1).contains(103L))
    val matches = spark.read.option("recursiveFileLookup", "true").parquet(s"$root/matches")
      .select("new_id", "corpus_id").as[(Long, Long)].collect()
    assert(matches.forall(_._1 == 103L) && matches.map(_._2).contains(3L),
      s"matches name wave-1 canonicals (incl. doc 3) for the one dup, got ${matches.toSeq}")

    // the shard axis is GLOBAL and monotone: wave-2's survivor continues
    // after wave-1's cumulative token count, exactly as one big batch
    val offsets = spark.read.option("recursiveFileLookup", "true").parquet(s"$root/shards")
      .select("doc_id", "token_offset", "n_tokens").as[(Long, Long, Long)].collect()
    val w1tokens = offsets.filter(_._1 <= 5L).map(_._3).sum
    assert(offsets.filter(_._1 == 200L).head._2 >= w1tokens,
      "wave-2 placement starts past every wave-1 token")
    assert(offsets.map(o => (o._2, o._2 + o._3)).sorted.toSeq.sliding(2).forall {
      case Seq((_, e), (s, _)) => s == e; case _ => true
    }, "token prefixes tile the axis with no gaps or overlaps")

    // replay with a FRESH checkpoint, same root: every batch re-arrives,
    // finds its done-marker, and skips — destination sees nothing new
    val before = delivered.size
    val r3 = EventStreams.curationSync(stream(), schema, root,
      Files.createTempDirectory("graft-curate-ckpt2").toString, shardTokens = 50L)(sink)
    assert(r3.isEmpty && delivered.size == before,
      "marker-present batches skip every stage of the composition")
  }

  test("runContinuous: a declared cursor is rejected — the checkpoint is the position") {
    val dir = makeProject()
    write(dir, "syncs/cont_bad.yaml",
      "model: orders_model\ndestination: fb\noptions:\n  streamTable: orders\n")
    val proj = ProjectLoader.load(dir, baseEnv = Map("WAREHOUSE" -> s"parquet:$sfDir"))
    val e = intercept[IllegalArgumentException](
      proj.runContinuous(spark, "cont_bad", StateStore.inMemory(), new Recorder,
        Files.createTempDirectory("graft-cont-ckpt3").toString))
    assert(e.getMessage.contains("cursor"))
  }

  test("image connection: with a container runtime the sync delivers through the stdio channel") {
    val dir = makeProject()
    val outDir = Files.createTempDirectory("graft-img-out").toString
    // the connector image `syncmaven/facebook:latest` resolves to —
    // basename `facebook`, exactly as the fake runtime maps it
    write(dir, "facebook.sh",
      s"""#!/bin/sh
         |n=0
         |out="$outDir/lane.$$$$.ndjson"
         |while IFS= read -r line; do
         |  case "$$line" in
         |    *'"type":"row"'*) n=$$((n+1)); printf '%s\\n' "$$line" >> "$$out" ;;
         |    *'"end-stream"'*)
         |      echo "{\\"type\\":\\"stream-result\\",\\"payload\\":{\\"received\\":$$n,\\"success\\":$$n,\\"skipped\\":0,\\"failed\\":0}}"
         |      exit 0 ;;
         |  esac
         |done
         |""".stripMargin)
    write(dir, "fakedocker",
      s"""#!/bin/sh
         |cmd="$$1"; shift
         |case "$$cmd" in
         |  pull) echo "$$1" >> "$outDir/pull.log"; exit 0 ;;
         |  run)
         |    image=""
         |    while [ $$# -gt 0 ]; do
         |      case "$$1" in
         |        -e) export "$$2"; shift 2 ;;
         |        --add-host|--name) shift 2 ;;
         |        -i|--rm) shift ;;
         |        *) image="$$1"; shift ;;
         |      esac
         |    done
         |    base=$${image##*/}; base=$${base%%:*}
         |    exec /bin/sh "$dir/$$base.sh" ;;
         |esac
         |""".stripMargin)
    Seq("facebook.sh", "fakedocker").foreach(s =>
      Files.setPosixFilePermissions(Paths.get(dir, s),
        java.nio.file.attribute.PosixFilePermissions.fromString("rwxr-xr-x")))

    val proj = ProjectLoader.load(dir, baseEnv = Map("WAREHOUSE" -> s"parquet:$sfDir"))
    val rt = graft.sinks.ContainerRuntime(
      binary = Paths.get(dir, "fakedocker").toString, rpcHost = "127.0.0.1")
    val rec = new Recorder
    // the stock fb connection (package.image: syncmaven/facebook:latest)
    // routes through the container channel when a runtime is supplied...
    val r = proj.runSync(spark, "orders_to_fb", StateStore.inMemory(), rec,
      containerRuntime = Some(rt))
    assert(r.rowsIn > 0 && r.rowsValid == r.rowsIn)
    val rows = new java.io.File(outDir).listFiles().filter(_.getName.endsWith(".ndjson"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines().toSeq)
    assert(rows.length.toLong == r.rowsIn, "every row crossed the container boundary")
    assert(rec.rows == 0L, "the REST transport must stay untouched")
    val pulls = scala.io.Source.fromFile(s"$outDir/pull.log").getLines().toSeq
    assert(pulls.nonEmpty && pulls.distinct == Seq("syncmaven/facebook:latest"))
    // ...and without a runtime the same sync posts through the in-process
    // profile (no new container lanes)
    val rec2 = new Recorder
    val r2 = proj.runSync(spark, "orders_to_fb", StateStore.inMemory(), rec2)
    assert(rec2.rows == r2.rowsIn)
    val after = new java.io.File(outDir).listFiles().filter(_.getName.endsWith(".ndjson"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines().toSeq)
    assert(after.length == rows.length)
  }

  /** A stdio-protocol connector as a project-local script, the reference's
    * `package.type: npm` command flavor (types/objects.ts:34-40), wired as
    * the `cmd_dest` connection; rows land in per-lane ndjson files under
    * the returned directory. */
  private def writeCmdConnector(dir: String): String = {
    val outDir = Files.createTempDirectory("graft-cmd-out").toString
    write(dir, "connector/dest.sh",
      s"""#!/bin/sh
         |n=0
         |out="$outDir/lane.$$$$.ndjson"
         |while IFS= read -r line; do
         |  case "$$line" in
         |    *'"type":"row"'*) n=$$((n+1)); printf '%s\\n' "$$line" >> "$$out" ;;
         |    *'"end-stream"'*)
         |      echo "{\\"type\\":\\"stream-result\\",\\"payload\\":{\\"received\\":$$n,\\"success\\":$$n,\\"skipped\\":0,\\"failed\\":0}}"
         |      exit 0 ;;
         |  esac
         |done
         |""".stripMargin)
    write(dir, "connections/cmd_dest.yaml",
      """package:
        |  type: npm
        |  command: /bin/sh connector/dest.sh
        |  dir: .
        |credentials:
        |  apiKey: ${env.FB_TOKEN}
        |""".stripMargin)
    // make the script runnable from the project dir
    val script = Paths.get(dir, "connector/dest.sh")
    Files.setPosixFilePermissions(script,
      java.nio.file.attribute.PosixFilePermissions.fromString("rwxr-xr-x"))
    outDir
  }

  test("command connection: the sync delivers through a real connector process") {
    val dir = makeProject()
    val outDir = writeCmdConnector(dir)
    write(dir, "syncs/orders_to_cmd.yaml",
      """model: orders_model
        |destination: cmd_dest
        |options:
        |  stream: orders
        |""".stripMargin)
    val proj = ProjectLoader.load(dir, baseEnv = Map("WAREHOUSE" -> s"parquet:$sfDir"))
    val conn = proj.connections("cmd_dest")
    assert(conn.command.contains("/bin/sh connector/dest.sh") && conn.kind == "cmd_dest")

    val store = StateStore.inMemory()
    val r = proj.runSync(spark, "orders_to_cmd", store, new Recorder)
    assert(r.rowsIn > 0 && r.rowsValid == r.rowsIn)
    val lanes = new java.io.File(outDir).listFiles().filter(_.getName.endsWith(".ndjson"))
    val rows = lanes.flatMap(f => scala.io.Source.fromFile(f).getLines().toSeq)
    assert(rows.length.toLong == r.rowsIn, "every model row crossed the process boundary")
    assert(rows.forall(_.contains("\"o_orderkey\"")), "rows carry the model's JSON projection")
    // cursor checkpointing composes with process delivery: a second run is
    // an empty increment and spawns nothing
    val before = rows.length
    val r2 = proj.runSync(spark, "orders_to_cmd", store, new Recorder)
    val after = new java.io.File(outDir).listFiles().filter(_.getName.endsWith(".ndjson"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines().toSeq).length
    assert(r2.rowsIn == 0 && after == before, "incremental re-run moves no rows")
  }

  test("runContinuous: a command connection delivers every micro-batch through the connector process") {
    val dir = makeProject()
    val outDir = writeCmdConnector(dir)
    write(dir, "models/orders_stream.sql",
      s"""--{{ config "datasource" env.WAREHOUSE }}
         |SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         |""".stripMargin)
    write(dir, "syncs/cmd_continuous.yaml",
      """model: orders_stream
        |destination: cmd_dest
        |options:
        |  streamTable: orders
        |""".stripMargin)
    val proj = ProjectLoader.load(dir, baseEnv = Map("WAREHOUSE" -> s"parquet:$sfDir"))
    val rec = new Recorder
    val total = spark.read.parquet(s"$sfDir/orders.parquet").count()

    val reports = proj.runContinuous(spark, "cmd_continuous", StateStore.inMemory(), rec,
      Files.createTempDirectory("graft-cmd-cont-ckpt").toString)
    assert(reports.map(_.rowsIn).sum == total)
    val rows = new java.io.File(outDir).listFiles().filter(_.getName.endsWith(".ndjson"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines().toSeq)
    assert(rows.length.toLong == total, "every streamed row crossed the process boundary")
    assert(rows.forall(_.contains("\"o_orderkey\"")), "rows carry the model's JSON projection")
    assert(rec.rows == 0, "a command connection never falls back to the REST transport")
  }
}
