package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.DriverManager
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Model
import graft.project.ProjectLoader
import graft.sinks.{JdbcSink, RestSink}
import graft.state.StateStore
import graft.sync.SyncRunner

/** Split of one sync run around the destination's first and last
  * acknowledged batch. */
final case class SyncSplit(runMs: Double, preMs: Double, sinkMs: Double, postMs: Double)

object SyncSupport {
  def write(dir: Path, rel: String, text: String): Unit = {
    val p = dir.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes("UTF-8"))
    ()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally st.close()
  }

  val fbConnection: String =
    """package:
      |  type: docker
      |  image: syncmaven/facebook:latest
      |credentials:
      |  accessToken: perfbench
      |  accountId: "1"
      |""".stripMargin

  def split(t0: Long, t1: Long, l: SendLog): SyncSplit = {
    val ms = (t1 - t0) / 1e6
    if (l.sends.sum == 0) SyncSplit(ms, ms, 0.0, 0.0)
    else SyncSplit(ms, (l.firstNs.get - t0) / 1e6, (l.lastNs.get - l.firstNs.get) / 1e6,
      (t1 - l.lastNs.get) / 1e6)
  }

  /** The `sinks` layer from the recording destinations of traced runs. */
  def sinkLayer(logs: Seq[(SendLog, Int)], passes: Int): Map[String, Double] = {
    val k = math.max(1, passes).toDouble
    val sends = logs.map(_._1.sends.sum).sum.toDouble
    val rows = logs.map(_._1.rows.sum).sum.toDouble
    val capacity = logs.map { case (l, batch) => l.sends.sum.toDouble * batch }.sum
    Map("sinks.sends" -> sends / k, "sinks.rows" -> rows / k,
        "sinks.batch_fill" -> (if (capacity > 0) rows / capacity else 0.0),
        "sinks.retries" -> 0.0, "sinks.send_ms" -> Trace.counter("sinks.send_ms") / k)
  }

  def syncLayer(splits: Seq[SyncSplit]): Map[String, Double] = Map(
    "sync.run_ms" -> Stats.mean(splits.map(_.runMs)),
    "sync.pre_sink_ms" -> Stats.mean(splits.map(_.preMs)),
    "sync.sink_ms" -> Stats.mean(splits.map(_.sinkMs)),
    "sync.post_sink_ms" -> Stats.mean(splits.map(_.postMs)))
}

/** Full-refresh reverse-ETL of large outputs: a hashed-email audience to
  * the facebook-ads profile (plain through the project, chunked through
  * `SyncRunner.run` with `checkpointEvery`), an insert then an update pass
  * of orders through `JdbcSink.upsert` into in-memory Derby, and a
  * `runDiff` CDC run over orders with seeded mutations. */
final class SyncBulkWorkload(seed: Long, sfDir: String, tmp: Path) extends Workload {
  import SyncSupport._

  /** Audience rows: lineitem rows whose order key falls in this share. */
  val audienceMod = 12
  val checkpointEvery = 17000L
  val jdbcOrders = 5000
  /** CDC rows: orders whose key falls in this share. */
  val cdcMod = 6
  val cdcMutationShare = 0.01

  private val root = tmp.resolve("bulk")
  private val domain = s"s$seed.example.com"
  private var cycle = 0
  private var project: ProjectLoader.GraftProject = _
  private var audienceModel: Model = _
  private var audience = (0L, 0L)
  private var jdbcUrl = ""
  private var ordersSrc: DataFrame = _
  private var ordersUpd: DataFrame = _
  private var derbyAfterInsert = (0L, 0L)
  private var derbyAfterUpdate = (0L, 0L)
  private var updatedRows = 0L
  private var cdcA = ""
  private var cdcB = ""
  /** (updated, deleted, inserted) keys from version A to version B. */
  private var mutation: (Set[Long], Set[Long], Set[Long]) = (Set.empty, Set.empty, Set.empty)
  private var digest = ""
  private var cdcRunner: SyncRunner = _
  private var cdcCurrent = ""
  private var cdcRows = Map.empty[String, Long]
  private val logs = mutable.ArrayBuffer.empty[(SendLog, Int)]
  private val splits = mutable.ArrayBuffer.empty[SyncSplit]
  private val jdbcInsertMs = mutable.ArrayBuffer.empty[Double]
  private val jdbcUpdateMs = mutable.ArrayBuffer.empty[Double]
  private val cdcMs = mutable.ArrayBuffer.empty[Double]
  private val chunks = mutable.ArrayBuffer.empty[Long]

  def inputsDigest: String = digest

  private val audienceSql =
    s"""--{{ config "datasource" env.WAREHOUSE }}
       |--{{ config "primaryKey" "email_sha256" }}
       |--{{ config "cursor" "row_id" }}
       |SELECT sha2(lower(concat('U', l_orderkey, '.', l_linenumber, '@', '$${env.AUDIENCE_DOMAIN}')), 256)
       |         AS email_sha256,
       |       l_orderkey * 8 + l_linenumber AS row_id,
       |       l_partkey, l_quantity, l_extendedprice, l_returnflag, l_shipdate
       |FROM lineitem
       |WHERE l_orderkey % $audienceMod = 0 AND (:cursor IS NULL OR l_orderkey * 8 + l_linenumber > :cursor)
       |""".stripMargin

  def prepare(h: Harness): Unit = {
    val spark = h.spark
    cycle += 1
    deleteTree(root)
    val proj = root.resolve("project")
    write(proj, "models/audience.sql", audienceSql)
    write(proj, "connections/fb.yaml", fbConnection)
    write(proj, "syncs/audience.yaml", "model: audience\ndestination: fb\noptions:\n  fullRefresh: true\n")
    val env = Map("WAREHOUSE" -> s"parquet:$sfDir", "AUDIENCE_DOMAIN" -> domain)
    project = ProjectLoader.load(proj.toString, baseEnv = env)
    val md = project.models("audience")
    audienceModel = Model.fromSql(md.id, md.sql, keyCols = md.keys, cursorCol = md.cursor, env = env)
    spark.read.parquet(s"$sfDir/lineitem.parquet").createOrReplaceTempView("lineitem")
    val a = audienceModel.build(spark)
      .agg(count(lit(1)), sum(xxhash64(col("email_sha256")).cast(DecimalType(38, 0)))).collect()(0)
    audience = (a.getLong(0), a.getDecimal(1).toBigInteger.longValue)

    // JDBC: orders, and a seeded tenth of them changed for the update pass
    val rnd = new scala.util.Random(seed)
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      .orderBy("o_orderkey").limit(jdbcOrders).collect()
    val changed = orders.filter(_ => rnd.nextDouble() < 0.1).map(r =>
      Row(r.getLong(0), r.getLong(1), "F", math.round(r.getDouble(3) * 100 + rnd.nextInt(10000)) / 100.0,
        r.getString(4)))
    val schema = StructType(Seq(StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderpriority", StringType)))
    val srcPath = root.resolve("jdbc_src.parquet").toString
    val updPath = root.resolve("jdbc_upd.parquet").toString
    spark.createDataFrame(orders.toSeq.asJava, schema).write.parquet(srcPath)
    spark.createDataFrame(changed.toSeq.asJava, schema).write.parquet(updPath)
    ordersSrc = spark.read.parquet(srcPath).repartition(h.cores, col("o_orderkey"))
    ordersUpd = spark.read.parquet(updPath).repartition(h.cores, col("o_orderkey"))
    derbyAfterInsert = rowsDigest(orders.toSeq)
    val byKey = changed.map(r => r.getLong(0) -> r).toMap
    updatedRows = changed.length.toLong
    derbyAfterUpdate = rowsDigest(orders.toSeq.map(r => byKey.getOrElse(r.getLong(0), r)))
    jdbcUrl = s"jdbc:derby:memory:perfbench_$cycle;create=true"

    // CDC: version A = all orders; B = A with seeded updates, deletes, inserts
    val cdcCols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    val va = spark.read.parquet(s"$sfDir/orders.parquet").where(col("o_orderkey") % cdcMod === 0)
      .select(cdcCols.map(col): _*)
    val keys = va.select("o_orderkey").orderBy("o_orderkey").collect().map(_.getLong(0))
    val nMut = math.max(3, (keys.length * cdcMutationShare).toInt)
    val picked = rnd.shuffle(keys.indices.toVector).take(nMut * 4 / 5).map(keys)
    val (updKeys, delKeys) = picked.splitAt(picked.size * 3 / 4)
    val templates = picked.take(nMut - picked.size)
    val insKeys = templates.indices.map(i => keys.last + 1 + i)
    // template i becomes insert key keys.last + 1 + i
    val inserts = va.where(col("o_orderkey").isin(templates: _*))
      .withColumn("o_orderkey", lit(keys.last) + array_position(typedLit(templates), col("o_orderkey")))
    val vb = va.where(!col("o_orderkey").isin(delKeys: _*))
      .withColumn("o_totalprice",
        when(col("o_orderkey").isin(updKeys: _*), col("o_totalprice") + 1.0).otherwise(col("o_totalprice")))
      .unionByName(inserts)
    cdcA = root.resolve("cdc_a.parquet").toString
    cdcB = root.resolve("cdc_b.parquet").toString
    va.write.parquet(cdcA)
    vb.write.parquet(cdcB)
    mutation = (updKeys.toSet, delKeys.toSet, insKeys.toSet)
    cdcRows = Map(cdcA -> keys.length.toLong, cdcB -> (keys.length - delKeys.size + insKeys.size).toLong)
    digest = Digest.sha256(Iterator(domain) ++ changed.iterator.map(_.mkString("|")) ++
      Seq(updKeys, delKeys, insKeys).iterator.map(_.sorted.mkString(",")))
  }

  /** Order-independent digest of order rows as Derby returns them. */
  private def rowsDigest(rows: Seq[Row]): (Long, Long) =
    (rows.size.toLong, rows.iterator.map(r => Recorder.hash64(r.mkString("|"))).sum)

  private def derbyDigest(): (Long, Long) = {
    val conn = DriverManager.getConnection(jdbcUrl)
    try {
      val rs = conn.createStatement().executeQuery(
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority FROM orders_dst")
      var n = 0L; var h = 0L
      while (rs.next()) {
        n += 1
        h += Recorder.hash64(Seq(rs.getLong(1), rs.getLong(2), rs.getString(3), rs.getDouble(4),
          rs.getString(5)).mkString("|"))
      }
      (n, h)
    } finally conn.close()
  }

  private def resetDerby(): Unit = {
    val conn = DriverManager.getConnection(jdbcUrl)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE orders_dst") catch { case _: java.sql.SQLException => () }
      st.execute("CREATE TABLE orders_dst (o_orderkey BIGINT NOT NULL PRIMARY KEY, o_custkey BIGINT, " +
        "o_orderstatus VARCHAR(1), o_totalprice DOUBLE, o_orderpriority VARCHAR(15))")
    } finally conn.close()
  }

  private def traced(h: Harness) = Trace.enabled && h.timing

  private def audienceOp(h: Harness, name: String)(run: RestSink.Transport => Unit): Unit = {
    val log = Recorder.fresh(s"bulk-$name", "email_sha256", keepKeys = false)
    var t0 = 0L; var t1 = 0L
    h.op(name) {
      t0 = System.nanoTime(); run(new RecordingTransport(s"bulk-$name")); t1 = System.nanoTime()
      log.rows.sum
    }.foreach { _ =>
      val got = (log.rows.sum, log.keyHash.get)
      h.check(got == audience, s"$name: destination got (rows, key hash) $got, model has $audience")
      if (traced(h)) { logs += ((log, 1000)); splits += split(t0, t1, log) }
    }
  }

  private def jdbcOp(h: Harness, name: String, df: DataFrame, rows: Long, want: (Long, Long),
                     into: mutable.ArrayBuffer[Double]): Unit =
    h.op(name) {
      Trace.span("sinks.jdbc_upsert")(JdbcSink.upsert(df, jdbcUrl, "orders_dst", Seq("o_orderkey")))
      rows
    }.foreach { ms =>
      val got = derbyDigest()
      h.check(got == want, s"$name: Derby holds (rows, hash) $got, expected $want")
      if (traced(h)) into += ms
    }

  private def cdcOp(h: Harness): Unit = {
    val next = if (cdcCurrent == cdcA) cdcB else cdcA
    val (u, d, i) = mutation
    val want: Set[(Long, String)] =
      if (next == cdcB) u.map(_ -> "update") ++ d.map(_ -> "delete") ++ i.map(_ -> "insert")
      else u.map(_ -> "update") ++ i.map(_ -> "delete") ++ d.map(_ -> "insert")
    var got = Set.empty[(Long, String)]
    val model = Model("orders_cdc", s => s.read.parquet(next), keyCols = Seq("o_orderkey"))
    h.op("cdc") {
      Trace.span("sync.runDiff") {
        cdcRunner.runDiff(h.spark, model, "orders_cdc", root.resolve("snapshots").toString, sink = changes =>
          got = changes.select("o_orderkey", graft.operators.Diff.ChangeCol).collect()
            .map(r => r.getLong(0) -> r.getString(1)).toSet)
      }
      cdcCurrent = next
      got.size.toLong + cdcRows(next)
    }.foreach { ms =>
      h.check(got == want, s"cdc: change set of ${got.size} rows differs from the ${want.size} seeded mutations")
      if (traced(h)) cdcMs += ms
    }
  }

  def warmUp(h: Harness): Unit = {
    cdcRunner = new SyncRunner(StateStore.inMemory())
    // the first diff has no snapshot: every row is an insert
    val base = Model("orders_cdc", s => s.read.parquet(cdcA), keyCols = Seq("o_orderkey"))
    h.op("cdc_base") {
      cdcRunner.runDiff(h.spark, base, "orders_cdc", root.resolve("snapshots").toString,
        sink = df => { df.count(); () })
      0L
    }
    cdcCurrent = cdcA
    pass(h)
  }

  def pass(h: Harness): Unit = {
    audienceOp(h, "audience") { t =>
      Trace.span("project.runSync")(project.runSync(h.spark, "audience", StateStore.inMemory(), t)); ()
    }
    audienceOp(h, "audience_ckpt") { t =>
      val r = Trace.span("sync.run")(new SyncRunner(StateStore.inMemory()).run(h.spark, audienceModel,
        "audience_ckpt", df => { RestSink.push(df, t, RestSink.Profiles.facebookAudience); () },
        fullRefresh = true, checkpointEvery = Some(checkpointEvery)))
      if (traced(h)) chunks += r.chunks
    }
    resetDerby()
    jdbcOp(h, "jdbc_insert", ordersSrc, derbyAfterInsert._1, derbyAfterInsert, jdbcInsertMs)
    jdbcOp(h, "jdbc_update", ordersUpd, updatedRows, derbyAfterUpdate, jdbcUpdateMs)
    cdcOp(h)
  }

  def metrics(h: Harness): Map[String, Metric] = Map.empty

  def layerMetrics(h: Harness, passes: Int): Map[String, Double] =
    sinkLayer(logs.toSeq, passes) ++ syncLayer(splits.toSeq) ++ Map(
      "sinks.jdbc_insert_ms" -> Stats.mean(jdbcInsertMs.toSeq),
      "sinks.jdbc_update_ms" -> Stats.mean(jdbcUpdateMs.toSeq),
      "sync.chunks" -> Stats.mean(chunks.map(_.toDouble).toSeq),
      "sync.cdc_ms" -> Stats.mean(cdcMs.toSeq))
}

/** The product's steady state: seeded increments land one at a time in a
  * scratch copy of the datasource; after each, the project is loaded as
  * the CLI would, then a cursor-incremental `runSync` and a continuous
  * `runContinuous` consume it, both on one file-backed state store. */
final class SyncTrickleWorkload(seed: Long, sfDir: String, tmp: Path) extends Workload {
  import SyncSupport._

  val incRows = 3000
  val increments = 48
  /** Increments consumed by the warm-up after the base sync. */
  val warmCycles = 6

  private val root = tmp.resolve("trickle")
  private val ds = root.resolve("ds")
  private val proj = root.resolve("project")
  private val staging = root.resolve("staging")
  private val storeFile = root.resolve("state").resolve("store.tsv")
  private val ckpt = root.resolve("ckpt").toString
  private var store: StateStore = _
  private var timingStore: Option[TimingStore] = None
  private var incs: IndexedSeq[Seq[Row]] = IndexedSeq.empty
  private var schema: StructType = _
  private var baseKeys: Seq[Long] = Nil
  private var next = 0
  private var project: ProjectLoader.GraftProject = _
  private var digest = ""
  private val env = Map("WAREHOUSE" -> s"parquet:$ds")
  private val loadMs = mutable.ArrayBuffer.empty[Double]
  private val splits = mutable.ArrayBuffer.empty[SyncSplit]
  private val streamMs = mutable.ArrayBuffer.empty[Double]
  private val streamFirstSendMs = mutable.ArrayBuffer.empty[Double]
  private val streamBatches = mutable.ArrayBuffer.empty[Double]
  private val logs = mutable.ArrayBuffer.empty[(SendLog, Int)]

  def inputsDigest: String = digest

  def prepare(h: Harness): Unit = {
    val spark = h.spark
    deleteTree(root)
    Files.createDirectories(ds.resolve("orders.parquet"))
    Files.copy(java.nio.file.Paths.get(s"$sfDir/orders.parquet"), ds.resolve("orders.parquet/base.parquet"))
    write(proj, "models/orders_inc.sql",
      """--{{ config "datasource" env.WAREHOUSE }}
        |--{{ config "cursor" "o_orderkey" }}
        |--{{ config "primaryKey" "o_orderkey" }}
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        |FROM orders
        |WHERE :cursor IS NULL OR o_orderkey > :cursor
        |""".stripMargin)
    write(proj, "models/orders_stream.sql",
      """--{{ config "datasource" env.WAREHOUSE }}
        |--{{ config "primaryKey" "o_orderkey" }}
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        |FROM orders
        |""".stripMargin)
    write(proj, "connections/fb.yaml", fbConnection)
    write(proj, "syncs/trickle_sync.yaml", "model: orders_inc\ndestination: fb\n")
    write(proj, "syncs/trickle_stream.yaml",
      "model: orders_stream\ndestination: fb\noptions:\n  streamTable: orders\n")

    // seeded increments: base rows re-keyed past the last key; each is
    // written to parquet only when it lands
    val base = spark.read.parquet(ds.resolve("orders.parquet/base.parquet").toString)
    schema = base.schema
    val rows = base.orderBy("o_orderkey").collect()
    baseKeys = rows.map(_.getLong(0)).toSeq
    val rnd = new scala.util.Random(seed)
    var key = baseKeys.max
    incs = (0 until increments).map { _ =>
      (0 until incRows).map { _ =>
        val t = rows(rnd.nextInt(rows.length))
        key += 1 + rnd.nextInt(3)
        Row.fromSeq(Seq(key, t.getLong(1), t.getString(2),
          math.round(t.getDouble(3) * 100 + rnd.nextInt(1000)) / 100.0) ++ t.toSeq.drop(4))
      }
    }
    digest = Digest.sha256(incs.iterator.flatten.map(_.mkString("|")))
    next = 0
    store = StateStore.onFile(storeFile.toString)
    timingStore = None
  }

  /** Write the next increment and move its file into the datasource; its keys. */
  private def land(h: Harness): Seq[Long] = {
    require(next < increments, s"all $increments seeded increments are used up")
    val dir = staging.resolve(s"inc-$next")
    h.spark.createDataFrame(incs(next).asJava, schema).coalesce(1).write.parquet(dir.toString)
    val st = Files.list(dir)
    val file = try st.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq.head finally st.close()
    Files.move(file, ds.resolve(s"orders.parquet/inc-$next.parquet"), StandardCopyOption.ATOMIC_MOVE)
    next += 1
    incs(next - 1).map(_.getLong(0))
  }

  private def storeNow: StateStore =
    if (Trace.enabled) timingStore.getOrElse {
      val t = new TimingStore(store, storeFile); timingStore = Some(t); t
    } else store

  private def cycle(h: Harness, keys: Seq[Long]): Unit = {
    val traced = Trace.enabled && h.timing
    val syncLog = Recorder.fresh("trickle-sync", "o_orderkey", keepKeys = true)
    var t0 = 0L; var t1 = 0L
    h.op("sync") {
      t0 = System.nanoTime()
      val l0 = System.nanoTime()
      project = Trace.span("project.load")(ProjectLoader.load(proj.toString, baseEnv = env))
      if (traced) loadMs += (System.nanoTime() - l0) / 1e6
      Trace.span("project.runSync")(
        project.runSync(h.spark, "trickle_sync", storeNow, new RecordingTransport("trickle-sync")))
      t1 = System.nanoTime()
      syncLog.rows.sum
    }.foreach { _ =>
      checkDelivery(h, "sync", syncLog, keys)
      val cursor = store.get(Seq("syncId=trickle_sync", "$lastCursor"))
      h.check(cursor.contains(keys.max.toString), s"sync: stored cursor $cursor, increment max ${keys.max}")
      if (traced) { logs += ((syncLog, 1000)); splits += split(t0, t1, syncLog) }
    }

    val streamLog = Recorder.fresh("trickle-stream", "o_orderkey", keepKeys = true)
    var batches = 0
    h.op("stream") {
      t0 = System.nanoTime()
      batches = Trace.span("project.runContinuous")(project.runContinuous(h.spark, "trickle_stream",
        storeNow, new RecordingTransport("trickle-stream"), ckpt)).size
      t1 = System.nanoTime()
      streamLog.rows.sum
    }.foreach { ms =>
      checkDelivery(h, "stream", streamLog, keys)
      if (traced) {
        logs += ((streamLog, 1000)); streamMs += ms; streamBatches += batches
        if (streamLog.sends.sum > 0) streamFirstSendMs += (streamLog.firstNs.get - t0) / 1e6
      }
    }
  }

  private def checkDelivery(h: Harness, what: String, log: SendLog, keys: Seq[Long]): Unit = {
    val got = log.keyList
    h.check(got.size == keys.size && got.toSet == keys.map(_.toString).toSet,
      s"$what: delivered ${got.size} rows (${got.toSet.size} distinct), increment has ${keys.size}")
  }

  def warmUp(h: Harness): Unit = {
    cycle(h, baseKeys)
    (0 until warmCycles).foreach(_ => cycle(h, land(h)))
  }

  def pass(h: Harness): Unit = cycle(h, land(h))

  def metrics(h: Harness): Map[String, Metric] =
    h.latency("sync") ++ h.latency("stream")

  def layerMetrics(h: Harness, passes: Int): Map[String, Double] = {
    val k = math.max(1, passes).toDouble
    sinkLayer(logs.toSeq, passes) ++ syncLayer(splits.toSeq) ++ Map(
      "project.load_ms" -> Stats.mean(loadMs.toSeq),
      "state.ops" -> Trace.counter("state.ops") / k,
      "state.set_ms" -> Trace.counter("state.set_ms") / k,
      "state.read_ms" -> Trace.counter("state.read_ms") / k,
      "state.file_bytes" -> timingStore.map(_.fileBytes.toDouble).getOrElse(0.0),
      "streaming.invocation_ms" -> Stats.mean(streamMs.toSeq),
      "streaming.batches" -> Stats.mean(streamBatches.toSeq),
      "streaming.first_send_ms" -> Stats.mean(streamFirstSendMs.toSeq))
  }
}
