package graft.project

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model.Model
import graft.sinks.RestSink
import graft.state.StateStore
import graft.sync.SyncRunner

/**
 * B22 — the reference's PROJECT authoring surface: a directory with
 * `models` (.sql or .yaml), `connections` (.yaml) and `syncs` (.yaml)
 * (docs/fundamentals/project.mdx), with `${env.NAME}` substitution and
 * `.env`/`.env.local` layering. A reference user points graft at their
 * existing project folder and runs the same syncs on Spark.
 *
 * Format mapping (studied, not ported):
 *  - SQL models carry config in `--{{ config "key" "value" }}` comment
 *    directives (model.mdx; values may be `env.NAME` references); YAML
 *    models carry `query`/`datasource`/`name` keys. `:cursor` stays a
 *    named parameter bound through Spark parameterized SQL.
 *  - Connections declare `package.image` (e.g. syncmaven/facebook:latest);
 *    the image basename selects graft's payload/profile family. Graft also
 *    accepts an explicit `kind:` for Spark-native destinations.
 *  - Syncs reference model + destination by file id and pass `options`
 *    (checkpointEvery, fullRefresh, keys…) to the runner (sync.mdx).
 *
 * Datasources: the reference dials Postgres/BigQuery/Snowflake. Graft maps
 * `jdbc:` URLs to the JDBC source and adds `parquet:<dir>` (every
 * every .parquet file under the dir registered as a temp view) as the
 * warehouse-on-object-storage form — the natural Spark deployment and the
 * sandbox's test surface.
 */
object ProjectLoader {

  final case class ModelDef(id: String, name: String, datasource: String, sql: String,
                            cursor: Option[String], keys: Seq[String],
                            config: Map[String, String])
  /** `command`/`dir` carry the reference's non-docker package flavor
    * (types/objects.ts:34-40: `package.type: npm` runs `command` in `dir`
    * over stdio) — when set, syncs to this connection deliver through the
    * process-connector protocol ([[graft.sinks.ProcessSink]]) instead of
    * an in-process profile. An npm package without a command derives one
    * from the dir's package.json `main` at channel-build time
    * (sync.ts:88-97). `packageType` is the declared `package.type`
    * (docker default, types/objects.ts:35). */
  final case class ConnectionDef(id: String, kind: String, image: Option[String],
                                 credentials: Map[String, Any], options: Map[String, Any],
                                 command: Option[String] = None, dir: Option[String] = None,
                                 packageType: Option[String] = None)
  final case class SyncDef(id: String, model: String, destination: String,
                           options: Map[String, Any],
                           enrichments: Seq[EnrichmentRef] = Nil)

  /** Reference `EnrichmentSettings` (types/objects.ts:24): a connection
    * reference plus free-form options. */
  final case class EnrichmentRef(connection: String, options: Map[String, Any])

  /** B34: dry-run estimate for one sync — what [[GraftProject.planSync]]
    * returns for human approval before any row moves. */
  final case class SyncPlan(syncId: String, destinationKind: String,
                            lastCursor: Option[String], rows: Long,
                            delivery: graft.sinks.RestSink.Plan,
                            fitIssues: Seq[graft.sinks.Destinations.Issue])

  /** Builds the row→rows enrichment transform for one enrichment channel:
    * keyed by connection KIND (the reference resolves a provider from the
    * connection the same way, sync.ts:433-436). */
  type EnrichProvider = (ConnectionDef, Map[String, Any]) => DataFrame => DataFrame

  final case class GraftProject(dir: String, env: Map[String, String],
                                models: Map[String, ModelDef],
                                connections: Map[String, ConnectionDef],
                                syncs: Map[String, SyncDef]) {

    /** Run one sync end-to-end: model SQL → cursor/validate/map pipeline →
      * destination-profiled REST push. `transport` is the wire (tests
      * inject a recorder; production an HTTP client). */
    def runSync(spark: SparkSession, syncId: String, store: StateStore,
                transport: RestSink.Transport,
                fullRefresh: Boolean = false,
                enrichProviders: Map[String, EnrichProvider] = Map.empty,
                containerRuntime: Option[graft.sinks.ContainerRuntime] = None): SyncRunner#SyncReport = {
      val (sync, md, conn) = resolve(syncId)
      val enrich = enrichFor(syncId, sync, enrichProviders)
      // the sync file can pin full-refresh mode (reference sync options);
      // the caller flag forces it for one-off replays
      val fullRefreshEff = fullRefresh || sync.options.get("fullRefresh").exists {
        case b: Boolean => b
        case s: String => s.equalsIgnoreCase("true")
        case _ => false
      }

      registerDatasource(spark, md.datasource)
      val model = modelOf(md)
      val runner = new SyncRunner(store)
      val checkpointEvery = sync.options.get("checkpointEvery").collect {
        case n: Long => n
        case s: String => s.toLong // quoted yaml numbers count too
      }
      runner.run(spark, model, syncId,
        sink = sinkFor(conn, sync, syncId, fullRefreshEff, transport, containerRuntime),
        fullRefresh = fullRefreshEff,
        enrich = enrich,
        checkpointEvery = checkpointEvery)
    }

    /** The destination one sync delivers to (routing, sync.ts:75-107):
      * command/npm connections deliver through the stdio connector
      * protocol (one process per partition); image connections do too
      * WHEN a container runtime is supplied (the reference's docker
      * channel); otherwise image/kind connections use the in-process
      * Spark-native destination profile — graft's fast path for clusters
      * without a container runtime on executors. */
    private def sinkFor(conn: ConnectionDef, sync: SyncDef, syncId: String,
                        fullRefresh: Boolean, transport: RestSink.Transport,
                        containerRuntime: Option[graft.sinks.ContainerRuntime]): DataFrame => Unit =
      (commandFor(conn), conn.image, containerRuntime) match {
        case (Some(cmdDef), _, _) =>
          val config = processSinkConfig(conn, sync, syncId, fullRefresh,
            command = Some(cmdDef), image = None)
          df => { graft.sinks.ProcessSink.deliver(df, config); () }
        case (None, Some(img), Some(rt)) =>
          val config = processSinkConfig(conn, sync, syncId, fullRefresh,
            command = None, image = Some((img, rt)))
          df => { graft.sinks.ProcessSink.deliver(df, config); () }
        case _ =>
          df => { RestSink.push(df, transport, RestSink.Profiles.forDestination(conn.kind)); () }
      }

    /** The (command vector, dir) a connection's connector runs as, or
      * None for image/in-process destinations. An explicit
      * `package.command` splits on whitespace (the reference does the
      * same, container.ts:103); an npm package without one derives
      * `node <package.json main>` in its dir — the reference's
      * channel-build rule (sync.ts:88-97; it uses `process.execPath`,
      * the engine's own node binary — graft is a JVM, so the derived
      * command names `node` from PATH). The derived form keeps `main` as
      * ONE argv element, so a main path containing spaces survives. */
    private[graft] def commandFor(conn: ConnectionDef): Option[(Seq[String], Option[String])] =
      conn.command match {
        case Some(cmd) =>
          Some((cmd.trim.split("\\s+").toSeq.filter(_.nonEmpty), conn.dir))
        case None if conn.packageType.contains("npm") =>
          val cdir = conn.dir.getOrElse(throw new IllegalArgumentException(
            s"connection '${conn.id}': npm package needs dir (or an explicit command)"))
          val resolved = if (Paths.get(cdir).isAbsolute) Paths.get(cdir) else Paths.get(dir, cdir)
          val pkgJson = resolved.resolve("package.json")
          require(Files.exists(pkgJson), s"package.json not found in $resolved")
          val main = parsePackageJsonMain(pkgJson).getOrElse(throw new IllegalArgumentException(
            s"$pkgJson should have main field"))
          Some((Seq("node", main), Some(cdir)))
        case None => None
      }

    /** ProcessSink config for a connector connection — command flavor
      * (argv from [[commandFor]]) or image flavor (launches through the
      * given runtime). Stream from the sync's `stream` option (default =
      * the sync id), credentials/options as the JSON the connector's zod
      * schemas expect. */
    private def processSinkConfig(conn: ConnectionDef, sync: SyncDef,
                                  syncId: String, fullRefresh: Boolean,
                                  command: Option[(Seq[String], Option[String])],
                                  image: Option[(String, graft.sinks.ContainerRuntime)]) = {
      import org.json4s.jackson.Serialization
      implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
      graft.sinks.ProcessSink.Config(
        command = command.map(_._1).getOrElse(Seq.empty),
        cwd = command.flatMap(_._2).map(d =>
          if (Paths.get(d).isAbsolute) d else Paths.get(dir, d).toString),
        stream = sync.options.get("stream").collect { case s: String => s }.getOrElse(syncId),
        syncId = syncId,
        connectionCredentials = Serialization.write(conn.credentials),
        streamOptions = Serialization.write(sync.options),
        fullRefresh = fullRefresh,
        image = image.map(_._1),
        runtime = image.map(_._2).getOrElse(graft.sinks.ContainerRuntime()))
    }

    /** B34: sync DRY-RUN — the full pre-flight a human reads before
      * approving a big sync: the increment's row count (respecting the
      * persisted cursor, so it prices THIS run, not the table), the
      * destination profile's batch count, and the rate-limit wall-time
      * floor ([[RestSink.plan]]), plus the modelFit schema issues. Costs
      * one column-pruned count — no rows move, nothing is checkpointed. */
    def planSync(spark: SparkSession, syncId: String, store: StateStore,
                 fullRefresh: Boolean = false): SyncPlan = {
      val (sync, md, conn) = resolve(syncId)
      registerDatasource(spark, md.datasource)
      val model = modelOf(md)
      val (lastCursor, increment) =
        new SyncRunner(store).increment(spark, model, syncId, fullRefresh)
      val rows = increment.count()
      val profile = RestSink.Profiles.forDestination(conn.kind)
      SyncPlan(syncId, conn.kind, lastCursor, rows,
        RestSink.plan(rows, profile), modelFit(spark, syncId))
    }

    /** Describe-streams PRE-FLIGHT: diff the model's output schema against
      * the destination's declared stream row type (see
      * [[graft.sinks.Destinations]]) without moving a row. Advisory — the
      * reference validates row-at-a-time inside the connector and skips
      * bad rows under the error threshold; a caller that wants the hard
      * gate asserts the returned issue list is clean. Kinds without a
      * registered stream catalog (custom Spark-native sinks) return Nil. */
    def modelFit(spark: SparkSession, syncId: String): Seq[graft.sinks.Destinations.Issue] = {
      val (sync, md, conn) = resolve(syncId)
      if (!graft.sinks.Destinations.registry.contains(conn.kind)) Nil
      else {
        registerDatasource(spark, md.datasource)
        val model = modelOf(md)
        val stream = sync.options.get("stream").collect { case s: String => s }
        graft.sinks.Destinations.modelFit(model.preview(spark, 0).schema, conn.kind, stream)
      }
    }

    /** Model PREVIEW (reference preview.ts:14-22: resolve the model,
      * create its datasource, run the query, show the first rows): the
      * model's frame limited to `n` rows — callers render it. The limit
      * rides into the plan, so a preview never scans past what the source
      * needs to produce n rows. */
    def previewModel(spark: SparkSession, modelId: String, n: Int = 10): DataFrame = {
      val md = models.getOrElse(modelId,
        throw new IllegalArgumentException(s"Model $modelId not found in $dir"))
      registerDatasource(spark, md.datasource)
      modelOf(md).preview(spark, n)
    }

    /** The model `md` declares. A declared row schema (DDL in the model
      * config) generates its validation rules — B20's SchemaValidation,
      * project-wired: the declaration drives the valid/invalid split and
      * error threshold of a sync run. */
    private def modelOf(md: ModelDef): Model = {
      val validations = md.config.get("schema").map(ddl =>
        graft.model.SchemaValidation.rules(
          org.apache.spark.sql.types.StructType.fromDDL(ddl))).getOrElse(Nil)
      Model.fromSql(md.id, md.sql, keyCols = md.keys, cursorCol = md.cursor, env = env)
        .copy(validations = validations)
    }

    private def resolve(syncId: String): (SyncDef, ModelDef, ConnectionDef) = {
      val sync = syncs.getOrElse(syncId,
        throw new IllegalArgumentException(s"unknown sync '$syncId' (have: ${syncs.keys.mkString(", ")})"))
      val md = models.getOrElse(sync.model,
        throw new IllegalArgumentException(s"sync '$syncId' references unknown model '${sync.model}'"))
      val conn = connections.getOrElse(sync.destination,
        throw new IllegalArgumentException(s"sync '$syncId' references unknown connection '${sync.destination}'"))
      (sync, md, conn)
    }

    /** Enrichment channels compose in declaration order between validate
      * and column-map, exactly where the reference runs them (sync.ts:588). */
    private def enrichFor(syncId: String, sync: SyncDef,
                          enrichProviders: Map[String, EnrichProvider]): DataFrame => DataFrame =
      sync.enrichments.foldLeft(identity[DataFrame] _) { (acc, ref) =>
        val econn = connections.getOrElse(ref.connection,
          throw new IllegalArgumentException(
            s"sync '$syncId' enrichment references unknown connection '${ref.connection}'"))
        val provider = enrichProviders.getOrElse(econn.kind,
          throw new IllegalArgumentException(
            s"no enrichment provider registered for kind '${econn.kind}'"))
        acc.andThen(provider(econn, ref.options))
      }

    /** B25: run one sync CONTINUOUSLY — the model's `streamTable` (sync
      * `options.streamTable` or a model config directive) registers as a
      * Structured Streaming view (schema pinned from a batch read of the
      * same files); every other table in the datasource registers as a
      * batch view, so model SQL that joins the stream against dimensions
      * plans a stream-batch join. The micro-batch pipeline is the full
      * batch sync (validate → threshold → enrich → map → destination
      * profile) via [[graft.sync.SyncRunner.runContinuous]]; the stream
      * checkpoint replaces the cursor, so continuous models declare none. */
    def runContinuous(spark: SparkSession, syncId: String, store: StateStore,
                      transport: RestSink.Transport, checkpointDir: String,
                      enrichProviders: Map[String, EnrichProvider] = Map.empty): Seq[SyncRunner#BatchReport] = {
      val (sync, md, conn) = resolve(syncId)
      require(md.cursor.isEmpty,
        s"continuous sync '$syncId': model '${md.id}' declares a cursor, but the stream " +
        "checkpoint IS the position — drop the cursor directive")
      val streamTable = sync.options.get("streamTable").collect { case s: String => s }
        .orElse(md.config.get("streamTable"))
        .getOrElse(throw new IllegalArgumentException(
          s"continuous sync '$syncId' must declare streamTable (sync options or model config)"))
      registerDatasource(spark, md.datasource, streamTable = Some(streamTable))
      val model = modelOf(md) // no cursor: required above
      new SyncRunner(store).runContinuous(
        model.build(spark), model, syncId, checkpointDir,
        // the stream checkpoint is the position, so a continuous run
        // never asks its connector for a full refresh
        sink = sinkFor(conn, sync, syncId, fullRefresh = false, transport, containerRuntime = None),
        enrich = enrichFor(syncId, sync, enrichProviders))
    }

    private def registerDatasource(spark: SparkSession, datasource: String,
                                   streamTable: Option[String] = None): Unit =
      if (datasource.startsWith("parquet:")) {
        val dir = Paths.get(datasource.stripPrefix("parquet:"))
        require(Files.isDirectory(dir), s"datasource directory not found: $dir")
        // nanosecond timestamps read as epoch-nanos longs (same choice as
        // queries.Tables — exact arithmetic, no truncation surprises)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        var streamSeen = false
        val st = Files.list(dir)
        try st.iterator().asScala
          .filter(_.toString.endsWith(".parquet"))
          .foreach { p =>
            val name = p.getFileName.toString.stripSuffix(".parquet")
            if (streamTable.contains(name)) {
              // streaming view: schema pinned from a batch read (file
              // streams can't infer), reading the same path incrementally.
              // The file-stream source force-sets basePath to the source
              // path itself UNLESS the path is a glob — and basePath must
              // be a directory, which a single .parquet file is not. A
              // one-alternative {name} glob keeps our explicit directory
              // basePath in charge.
              val schema = spark.read.parquet(p.toString).schema
              val glob = s"$dir/{${p.getFileName.toString}}"
              spark.readStream.schema(schema).option("basePath", dir.toString)
                .parquet(glob)
                .createOrReplaceTempView(name)
              streamSeen = true
            } else spark.read.parquet(p.toString).createOrReplaceTempView(name)
          }
        finally st.close()
        streamTable.foreach(tn => require(streamSeen,
          s"streamTable '$tn' not found under $dir"))
      } else if (datasource.startsWith("jdbc:")) {
        // JDBC warehouses read through graft.sources.JdbcSource — models
        // then reference pushed-down subqueries; registration is per-table
        // and credential-bearing, so it stays an explicit caller step.
        throw new IllegalArgumentException(
          "jdbc datasources: register tables via graft.sources.JdbcSource, then use a DataFrame model")
      } else throw new IllegalArgumentException(
        s"unsupported datasource '$datasource' (expected parquet:<dir> or jdbc:<url>)")
  }

  private val Directive =
    raw"""--\s*\{\{\s*config\s+"([^"]+)"\s+(?:"([^"]*)"|env\.([A-Za-z0-9_]+))\s*\}\}""".r

  /** Load a project directory with the given extra env files. */
  def load(projectDir: String, extraEnvFiles: Seq[String] = Nil,
           baseEnv: Map[String, String] = sys.env): GraftProject = {
    val env = EnvVars.projectEnv(projectDir, extraEnvFiles, baseEnv)

    def read(p: Path): String =
      EnvVars.substitute(new String(Files.readAllBytes(p), "UTF-8"), env, p.toString)

    def filesIn(sub: String, exts: Seq[String]): Seq[Path] = {
      val d = Paths.get(projectDir, sub)
      if (!Files.isDirectory(d)) Nil
      else {
        val st = Files.list(d)
        try st.iterator().asScala.toSeq
          .filter(p => exts.exists(p.toString.endsWith)).sortBy(_.toString)
        finally st.close()
      }
    }

    val models = (filesIn("models", Seq(".sql")) ++ filesIn("models", Seq(".yaml", ".yml")))
      .map(p => parseModel(p, read(p), env)).map(m => m.id -> m).toMap

    val connections = filesIn("connections", Seq(".yaml", ".yml"))
      .map(p => parseConnection(p, read(p))).map(c => c.id -> c).toMap

    val syncs = filesIn("syncs", Seq(".yaml", ".yml"))
      .map(p => parseSync(p, read(p))).map(s => s.id -> s).toMap

    GraftProject(projectDir, env, models, connections, syncs)
  }

  private def idOf(p: Path): String = {
    val n = p.getFileName.toString
    n.substring(0, n.lastIndexOf('.'))
  }

  /** Parse one model file — `.sql` with `--{{ config ... }}` directives,
    * or `.yaml`/`.yml` with query/datasource keys. `text` is the
    * env-substituted content. */
  private[graft] def parseModel(p: Path, text: String, env: Map[String, String]): ModelDef =
    if (p.toString.endsWith(".sql")) {
      val conf = Directive.findAllMatchIn(text).map { m =>
        val v = Option(m.group(2)).getOrElse(env.getOrElse(m.group(3),
          throw new IllegalArgumentException(s"Environment variable ${m.group(3)} (referenced in $p) is not defined")))
        m.group(1) -> v
      }.toMap
      val sql = text.linesIterator.filterNot(l => Directive.findFirstIn(l).isDefined)
        .mkString("\n").trim
      val id = conf.getOrElse("id", idOf(p))
      ModelDef(id, conf.getOrElse("name", idOf(p)),
        conf.getOrElse("datasource",
          throw new IllegalArgumentException(s"model $p must define datasource")),
        sql, conf.get("cursor"),
        conf.get("primaryKey").map(_.split(",").map(_.trim).toSeq).getOrElse(Nil), conf)
    } else {
      val y = Yaml.parse(text)
      def str(k: String): Option[String] = y.get(k).collect { case s: String => s }
      val id = str("id").getOrElse(idOf(p))
      ModelDef(id, str("name").getOrElse(idOf(p)),
        str("datasource").getOrElse(
          throw new IllegalArgumentException(s"model $p must define datasource")),
        str("query").getOrElse(
          throw new IllegalArgumentException(s"model $p must define query")),
        str("cursor"),
        str("primaryKey").map(_.split(",").map(_.trim).toSeq).getOrElse(Nil),
        y.collect { case (k, v: String) => k -> v })
    }

  /** Parse one connection yaml (env-substituted `text`). */
  private[graft] def parseConnection(p: Path, text: String): ConnectionDef = {
    val y = Yaml.parse(text)
    val pkg = y.get("package").collect { case m: Map[_, _] =>
      m.asInstanceOf[Map[String, Any]] }.getOrElse(Map.empty[String, Any])
    def pkgStr(k: String): Option[String] = pkg.get(k).collect { case s: String => s }
    val image = pkgStr("image")
    val command = pkgStr("command")
    val packageType = pkgStr("type")
    val kind = y.get("kind").collect { case s: String => s }
      .orElse(image.map(kindFromImage))
      // command/npm connectors: the file id names the kind
      .orElse(command.map(_ => idOf(p)))
      .orElse(packageType.filter(_ == "npm").map(_ => idOf(p)))
      .getOrElse(throw new IllegalArgumentException(
        s"connection $p must define package.image, package.command or kind"))
    ConnectionDef(idOf(p), kind, image,
      y.get("credentials").collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
        .getOrElse(Map.empty),
      y.get("options").collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
        .getOrElse(Map.empty),
      command = command, dir = pkgStr("dir"), packageType = packageType)
  }

  /** Parse one sync yaml (env-substituted `text`). */
  private[graft] def parseSync(p: Path, text: String): SyncDef = {
    val y = Yaml.parse(text)
    def str(k: String): String = y.get(k).collect { case s: String => s }
      .getOrElse(throw new IllegalArgumentException(s"sync $p must define $k"))
    def asRef(v: Any): EnrichmentRef = v match {
      case m: Map[_, _] =>
        val mm = m.asInstanceOf[Map[String, Any]]
        EnrichmentRef(
          mm.get("connection").collect { case s: String => s }.getOrElse(
            throw new IllegalArgumentException(s"enrichment in $p must define connection")),
          mm.get("options").collect { case o: Map[_, _] => o.asInstanceOf[Map[String, Any]] }
            .getOrElse(Map.empty))
      case other => throw new IllegalArgumentException(s"bad enrichment entry in $p: $other")
    }
    // reference accepts `enrichments: [...]` or a singular `enrichment:`
    // (types/objects.ts:60)
    val enr = y.get("enrichments").collect { case l: List[_] => l.map(asRef) }
      .orElse(y.get("enrichment").map(e => List(asRef(e))))
      .getOrElse(Nil)
    SyncDef(idOf(p), str("model"), str("destination"),
      y.get("options").collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
        .getOrElse(Map.empty), enr)
  }

  /** The connector-dev AD-HOC project (commands/connector-dev.ts:14-73):
    * one connector directory plus explicit model/connection files compose
    * a throwaway project so a connector author can run a real sync against
    * the code in their working tree. The connector dir must hold a
    * package.json with `main` (connector-dev.ts:28-36); a connection file
    * that names no command runs `node <main>` in that dir (the npm
    * channel-build rule, sync.ts:88-97). `syncRef` is a sync FILE when it
    * points at one, else the sync id for a synthesized model→connection
    * sync (connector-dev.ts:40-52). */
  def adhoc(connectorDir: String, modelFile: String, connectionFile: String,
            syncRef: String = "sync", extraEnvFiles: Seq[String] = Nil,
            baseEnv: Map[String, String] = sys.env): GraftProject = {
    val dir = Paths.get(connectorDir).toAbsolutePath.toString
    val env = EnvVars.projectEnv(dir, extraEnvFiles, baseEnv)
    def read(p: Path): String =
      EnvVars.substitute(new String(Files.readAllBytes(p), "UTF-8"), env, p.toString)

    val pkgJson = Paths.get(dir, "package.json")
    require(Files.exists(pkgJson),
      s"Connector directory $dir does not contain package.json: $pkgJson")
    require(parsePackageJsonMain(pkgJson).isDefined,
      s"Connector package.json does not contain main field")

    val model = parseModel(Paths.get(modelFile), read(Paths.get(modelFile)), env)
    val conn0 = parseConnection(Paths.get(connectionFile), read(Paths.get(connectionFile)))
    // the dev connector IS the package under test: no command and no image
    // means "run this directory" — mark it npm-in-dir so commandFor
    // derives `node <main>` there (the reference always runs the dev dir)
    val conn =
      if (conn0.command.isDefined || conn0.image.isDefined) conn0
      else conn0.copy(packageType = Some("npm"), dir = conn0.dir.orElse(Some(dir)))
    val sync =
      if (Files.exists(Paths.get(syncRef)))
        parseSync(Paths.get(syncRef), read(Paths.get(syncRef)))
      else SyncDef(syncRef, model.id, conn.id, Map.empty)

    GraftProject(dir, env,
      Map(model.id -> model), Map(conn.id -> conn), Map(sync.id -> sync))
  }

  /** Minimal package.json reader: the `main` field (sync.ts:94-96). */
  private[graft] def parsePackageJsonMain(p: Path): Option[String] = {
    import org.json4s._
    try org.json4s.jackson.JsonMethods.parse(
      new String(Files.readAllBytes(p), "UTF-8")) \ "main" match {
      case JString(s) if s.nonEmpty => Some(s)
      case _ => None
    } catch { case _: Exception => None }
  }

  /** "syncmaven/facebook:latest" → "facebook-ads" (graft profile family). */
  private[graft] def kindFromImage(image: String): String = {
    val base = image.split("/").last.split(":").head
    Map("facebook" -> "facebook-ads", "twitter" -> "twitter-ads")
      .getOrElse(base, base)
  }
}
