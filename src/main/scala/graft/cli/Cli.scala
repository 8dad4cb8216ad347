package graft.cli

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.project.ProjectLoader
import graft.sinks.{Destinations, RestSink}
import graft.state.StateStore

/**
 * The graft command-line surface — the reference's CLI command set
 * (commands/index.ts:92-236 registers sync/init/streams/destination/
 * connector-dev/add/preview/link; studied, not ported) re-expressed over
 * the library's own machinery:
 *
 *  - `init`         → project skeleton on disk (init.ts:12-44)
 *  - `add connection` → credential-validated connection file
 *                     (add.ts:33-118; non-interactive — credentials come
 *                     from `-c <json|@file>` exactly like the reference's
 *                     ad-hoc `sync -c`, because a cluster-side CLI has no
 *                     TTY to prompt on)
 *  - `link`         → model × connection → sync file (link.ts:21-40)
 *  - `preview`      → model's first rows as a table (preview.ts:9-48)
 *  - `streams`      → the destination's stream catalog (streams.ts)
 *  - `destination`  → credential schema, human or `--json`
 *                     (destination.ts)
 *  - `sync`         → run (or `--plan` dry-run) selected syncs
 *                     (commands/index.ts:97-138, sync.ts)
 *
 * Everything data-facing delegates to [[ProjectLoader.GraftProject]] —
 * the CLI owns only argv parsing, file scaffolding and rendering. `run`
 * is a pure function of (args, out, spark) returning the exit code, so
 * specs drive every command in-process; `main` binds real stdout and the
 * library's tuned local session.
 */
object Cli {

  def main(args: Array[String]): Unit = {
    val code = run(args.toIndexedSeq, Console.out.println(_), () => {
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
      val s = graft.GraftSession.local(cpus, "graft-cli")
      s.sparkContext.setLogLevel("WARN")
      s
    })
    if (code != 0) sys.exit(code)
  }

  /** Dispatch one invocation. `spark` is built lazily — commands that
    * never touch data (init/add/link/streams/destination) must work
    * without a Spark session ever starting. */
  def run(args: Seq[String], out: String => Unit, spark: () => SparkSession): Int =
    try args.headOption match {
      case None | Some("-h") | Some("--help") => out(usage); 0
      case Some("init")        => init(args.tail, out)
      case Some("add")         => add(args.tail, out)
      case Some("link")        => link(args.tail, out)
      case Some("preview")     => preview(args.tail, out, spark)
      case Some("streams")     => streams(args.tail, out)
      case Some("destination") => destination(args.tail, out)
      case Some("sync")        => sync(args.tail, out, spark)
      case Some("connector-dev") => connectorDev(args.tail, out, spark)
      case Some(other) =>
        out(s"Unknown command: $other"); out(usage); 2
    } catch {
      case e: IllegalArgumentException => out(s"✘ ${e.getMessage}"); 1
      case e: java.nio.file.NoSuchFileException => out(s"✘ No such file: ${e.getFile}"); 1
    }

  private val usage: String =
    """graft — synchronize data from your lakehouse to external services.
      |
      |Commands:
      |  init [dir]                     Initialize a new graft project
      |  add connection <package> -c <json|@file> [-t docker|npm] [-d dir]
      |                                 Add a credential-validated connection
      |  link -c <connection> -m <model> [-s stream] [-d dir]
      |                                 Create a sync linking a model to a connection
      |  preview <model> [-d dir] [-n rows]
      |                                 Preview a model's first rows
      |  streams <package-or-connection> [-d dir]
      |                                 Describe streams a destination accepts
      |  destination -p <package> [--json]
      |                                 Describe destination credential parameters
      |  sync [dir] [-d dir] [-s ids] [-f] [--state file] [--plan] [-e envfile]
      |       [--container-runtime bin]
      |                                 Run all or selected syncs of a project
      |  sync -p <package> -m <model-sql|@file> -c <json|@file>
      |       [--datasource ds] [--stream s] [-o json] [--checkpoint-every n]
      |       [--sync-id id] [--state file]
      |                                 Ad-hoc: run one sync without a project
      |  connector-dev [dir] -m <model-file> -c <connection-file>
      |       [-s <sync-file-or-id>] [--state file] [-f] [-e envfile]
      |                                 Test a connector under development:
      |                                 run a sync against the connector dir
      |""".stripMargin

  // ---------------------------------------------------------------- argv

  /** Tiny flag parser: `aliases` maps every accepted spelling to a
    * canonical name; names in `boolFlags` take no value. Returns
    * (flags, positionals). Repeated value flags accumulate under
    * `name` + "+" joined by   (only -e/--env repeats). */
  private def parseOpts(args: Seq[String], aliases: Map[String, String],
                        boolFlags: Set[String]): (Map[String, String], Seq[String]) = {
    var flags = Map.empty[String, String]
    val pos = Seq.newBuilder[String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      aliases.get(a) match {
        case Some(name) if boolFlags(name) => flags += name -> "true"; i += 1
        case Some(name) =>
          require(i + 1 < args.length, s"flag $a needs a value")
          val v = args(i + 1)
          if (flags.contains(name))
            flags += (name + "+") -> (flags.getOrElse(name + "+", flags(name)) + " " + v)
          else flags += name -> v
          i += 2
        case None if a.startsWith("-") && a != "-" =>
          throw new IllegalArgumentException(s"unknown flag $a")
        case None => pos += a; i += 1
      }
    }
    (flags, pos.result())
  }

  private def projectDir(flags: Map[String, String], pos: Seq[String]): String =
    pos.headOption.orElse(flags.get("projectDir"))
      .orElse(sys.env.get("GRAFT_PROJECT_DIR"))
      .getOrElse(System.getProperty("user.dir"))

  private val dirAliases = Map("-d" -> "projectDir", "--project-dir" -> "projectDir")

  /** The `-e`/`--env` files, in the order given (the flag repeats). */
  private def envFilesOf(flags: Map[String, String]): Seq[String] =
    flags.get("env+").map(_.split(" ").toSeq)
      .orElse(flags.get("env").map(Seq(_))).getOrElse(Nil)

  /** One `sync --plan` line, then one line per model-fit issue. */
  private def printPlan(p: ProjectLoader.SyncPlan, out: String => Unit): Unit = {
    out(s"✔ ${p.syncId} → ${p.destinationKind}: ${p.rows} rows in ${p.delivery.batches} " +
      s"batch(es), min ${p.delivery.minSeconds}s" +
      p.lastCursor.fold("")(c => s", cursor > $c"))
    p.fitIssues.foreach(i => out(s"  ⚠ ${i.column}: ${i.detail}"))
  }

  /** The one-line report of a finished sync run. */
  private def printReport(r: graft.sync.SyncRunner#SyncReport, out: String => Unit): Unit =
    out(s"✔ ${r.syncId}: ${r.rowsValid}/${r.rowsIn} rows delivered" +
      (if (r.rowsInvalid > 0) s" (${r.rowsInvalid} invalid skipped)" else "") +
      r.newCursor.fold("")(c => s", cursor now $c"))

  // ---------------------------------------------------------------- init

  /** init.ts:12-44: refuse a non-empty directory; scaffold models/ syncs/
    * connections/, a starter .env, and a .gitignore keeping secrets and
    * state out of version control. */
  private def init(args: Seq[String], out: String => Unit): Int = {
    val (flags, pos) = parseOpts(args, dirAliases, Set.empty)
    val dir = Paths.get(projectDir(flags, pos))
    if (!Files.exists(dir)) {
      Files.createDirectories(dir)
      out(s"✔ Directory will be created $dir")
    }
    val nonEmpty = { val s = Files.list(dir); try s.iterator().hasNext finally s.close() }
    if (nonEmpty) {
      out(s"✘ Directory is not empty: $dir. Please create a new project in an empty directory.")
      return 1
    }
    Seq("models", "syncs", "connections").foreach { sub =>
      Files.createDirectory(dir.resolve(sub))
      write(dir.resolve(sub).resolve(".gitkeep"), "")
    }
    write(dir.resolve(".env"),
      "# Keep secrets such as database connection strings or API keys here\nSECRET_KEY=supersecret")
    write(dir.resolve(".gitignore"), ".env\n.state")
    out(s"✔ Created graft project at $dir")
    0
  }

  // ----------------------------------------------------------------- add

  /** add.ts:33-118, non-interactive: kind resolves from the package name,
    * credentials parse from `-c` (JSON text or @file), validate against
    * the kind's schema ([[Destinations.validateCredentials]] — the ajv
    * compile step of add.ts:72-92), and the connection lands in
    * connections/<id>.yml with the reference's id-dedup rule
    * (add.ts:15-31: base name, then -1, -2, ...). */
  private def add(args: Seq[String], out: String => Unit): Int = {
    val (flags, pos) = parseOpts(args,
      dirAliases ++ Map("-c" -> "credentials", "--credentials" -> "credentials",
        "-t" -> "packageType", "--package-type" -> "packageType"), Set.empty)
    val kindArg = pos.headOption.getOrElse(
      throw new IllegalArgumentException("usage: add connection <package-name> -c <json|@file>"))
    require(kindArg == "connection",
      s"Unknown object type: $kindArg. Available types: connection")
    val pkg = pos.lift(1).getOrElse(
      throw new IllegalArgumentException(
        "Missing package name. It should be provided as graft add connection <package-name>"))
    val packageType = flags.getOrElse("packageType", "docker")
    val kind = ProjectLoader.kindFromImage(pkg)
    val creds = parseJsonObject(readArgOrFile(flags.getOrElse("credentials",
      throw new IllegalArgumentException(
        "Missing credentials. Provide them as -c '<json>' or -c @/path/to/file.json"))))
    val problems = Destinations.validateCredentials(kind, creds)
    if (problems.nonEmpty) {
      problems.foreach(p => out(s"✘ $p"))
      return 1
    }
    val dir = Paths.get(projectDir(flags, Nil))
    val connDir = dir.resolve("connections")
    Files.createDirectories(connDir)
    val base = pkg.split("/").last.replaceAll("[^a-zA-Z0-9]", "-").toLowerCase
    val id = Iterator.from(0)
      .map(i => if (i == 0) base else s"$base-$i")
      .find(n => !Files.exists(connDir.resolve(n + ".yml"))).get
    val file = connDir.resolve(id + ".yml")
    write(file, (Seq(
      "package:",
      s"  type: $packageType",
      s"  ${if (packageType == "docker") "image" else "dir"}: $pkg",
      "credentials:") ++
      creds.toSeq.sortBy(_._1).flatMap { case (k, v) => yamlEntry("  ", k, v) }
    ).mkString("\n"))
    out(s"✔ Connection $pkg added.")
    out(s"  ➔ It's written to file: $file")
    Destinations.registry.get(kind).foreach { spec =>
      out(s"  ➔ Available streams: ${spec.streams.map(_.name).mkString(", ")}")
    }
    0
  }

  // ---------------------------------------------------------------- link

  /** link.ts:21-40: assert both sides exist in the loaded project, pick
    * the first free `<connection>-<model>[-<stream>]` id, write the sync
    * file. */
  private def link(args: Seq[String], out: String => Unit): Int = {
    val (flags, pos) = parseOpts(args,
      dirAliases ++ Map("-c" -> "connection", "--connection" -> "connection",
        "-m" -> "model", "--model" -> "model", "-s" -> "stream", "--stream" -> "stream"),
      Set.empty)
    val dir = projectDir(flags, pos)
    val conn = flags.getOrElse("connection", throw new IllegalArgumentException("link needs -c <connection>"))
    val model = flags.getOrElse("model", throw new IllegalArgumentException("link needs -m <model>"))
    val project = ProjectLoader.load(dir)
    require(project.models.contains(model), s"Model $model not found in $dir")
    require(project.connections.contains(conn), s"Connection $conn not found in $dir")
    val stream = flags.get("stream")
    val base = s"$conn-$model${stream.fold("")("-" + _)}"
    val syncId = Iterator.from(0)
      .map(i => if (i == 0) base else s"$base-$i")
      .find(n => !project.syncs.contains(n) &&
        !Files.exists(Paths.get(dir, "syncs", n + ".yml"))).get
    val file = Paths.get(dir, "syncs", syncId + ".yml")
    Files.createDirectories(file.getParent)
    write(file, (Seq(s"model: $model", s"destination: $conn") ++
      stream.map(s => s"options:\n  stream: $s")).mkString("\n"))
    out(s"✔ Sync $syncId created in $file")
    0
  }

  // ------------------------------------------------------------- preview

  /** preview.ts:9-48: run the model, render the first rows as a table,
    * note truncation. The limit is n+1 so "has more" is exact without a
    * count. */
  private def preview(args: Seq[String], out: String => Unit,
                      spark: () => SparkSession): Int = {
    val (flags, pos) = parseOpts(args, dirAliases ++ Map("-n" -> "rows", "--rows" -> "rows"), Set.empty)
    val model = pos.headOption.getOrElse(
      throw new IllegalArgumentException("usage: preview <model> [-d dir] [-n rows]"))
    val dir = projectDir(flags, pos.drop(1))
    val n = flags.get("rows").map(_.toInt).getOrElse(10)
    val project = ProjectLoader.load(dir)
    val df = project.previewModel(spark(), model, n + 1)
    val rows = df.collect()
    val cols = df.schema.fieldNames.toSeq
    val shown = rows.take(n).map(r => cols.map(c =>
      Option(r.getAs[Any](c)).map(_.toString).getOrElse("null")))
    val widths = cols.zipWithIndex.map { case (c, i) =>
      (c.length +: shown.map(_(i).length)).max }
    def line(vals: Seq[String]) =
      vals.zip(widths).map { case (v, w) => v.padTo(w, ' ') }.mkString("| ", " | ", " |")
    out(line(cols))
    out(widths.map("-" * _).mkString("|-", "-|-", "-|"))
    shown.foreach(r => out(line(r)))
    if (rows.length > n) out(s"...and more. The result set is truncated to $n rows.")
    0
  }

  // ------------------------------------------------------------- streams

  /** streams.ts: the stream catalog of a destination — by package name,
    * or by connection id when a project dir holds one. A connection that
    * routes through the stdio channel (command/npm, or image with
    * `--container-runtime`) is asked LIVE: the reference's streams
    * command runs `describe-streams` on the actual connector
    * (streams.ts:15-63), so graft does too. */
  private def streams(args: Seq[String], out: String => Unit): Int = {
    val (flags, pos) = parseOpts(args,
      dirAliases ++ Map("--container-runtime" -> "containerRuntime"), Set.empty)
    val ref = pos.headOption.getOrElse(
      throw new IllegalArgumentException("usage: streams <package-or-connection> [-d dir]"))
    val dir = projectDir(flags, Nil)
    val connFileExists =
      Files.exists(Paths.get(dir, "connections", ref + ".yml")) ||
        Files.exists(Paths.get(dir, "connections", ref + ".yaml"))
    val loaded = if (connFileExists) Some(ProjectLoader.load(dir)) else None
    loaded.foreach { project =>
      val conn = project.connections(ref)
      val rt = flags.get("containerRuntime")
        .map(b => graft.sinks.ContainerRuntime(binary = b))
      (project.commandFor(conn), conn.image, rt) match {
        case (Some((cmd, cdir)), _, _) =>
          return liveStreams(conn, out,
            command = Some((cmd, cdir.map(d =>
              if (Paths.get(d).isAbsolute) d else Paths.get(dir, d).toString))),
            image = None)
        case (None, Some(img), Some(r)) =>
          return liveStreams(conn, out, command = None, image = Some((img, r)))
        case _ => () // registry-backed kinds fall through
      }
    }
    val kind = loaded.map(_.connections(ref).kind)
      .getOrElse(ProjectLoader.kindFromImage(ref))
    val spec = Destinations.describe(kind)
    out(s"Destination $kind — ${spec.streams.length} stream(s), default '${spec.defaultStream}':")
    spec.streams.foreach { s =>
      val extras = if (s.catchall) " (+ custom attributes)" else ""
      out(s"  ${s.name}$extras")
      s.fields.foreach { f =>
        out(s"    ${f.name}: ${f.t.label}${if (f.required) " (required)" else ""}")
      }
    }
    0
  }

  // --------------------------------------------------------- destination

  /** destination.ts: the credential parameters a destination needs —
    * human-readable, or draft-07 JSON with `--json` (destination.ts:57). */
  private def destination(args: Seq[String], out: String => Unit): Int = {
    val (flags, pos) = parseOpts(args,
      Map("-p" -> "package", "--package" -> "package", "--json" -> "json"), Set("json"))
    val pkg = flags.get("package").orElse(pos.headOption).getOrElse(
      throw new IllegalArgumentException("usage: destination -p <package> [--json]"))
    val kind = ProjectLoader.kindFromImage(pkg)
    if (flags.contains("json")) out(Destinations.credentialSchemaJson(kind))
    else {
      out(s"Destination $kind credentials:")
      Destinations.credentialSchema(kind).foreach { f =>
        val bits = Seq(
          Some(f.t).filter(_ != "any"),
          if (f.required) Some("required") else None,
          Some(f.enumVals).filter(_.nonEmpty).map(_.mkString("one of ", "|", "")),
          Some(f.desc).filter(_.nonEmpty)).flatten
        out(s"  ${f.name}: ${bits.mkString(", ")}")
      }
    }
    0
  }

  // ---------------------------------------------------------------- sync

  /** commands/index.ts:97-138 + sync.ts: run all or `-s`-selected syncs.
    * `--plan` is graft's B34 dry-run face (rows, batches, wall-time
    * floor, schema fit) — the human pre-flight before a big run. State
    * defaults to `<project>/.state` exactly like the reference's state
    * option documents. */
  private def sync(args: Seq[String], out: String => Unit,
                   spark: () => SparkSession): Int = {
    val (flags, pos) = parseOpts(args,
      dirAliases ++ Map("-s" -> "select", "--select" -> "select",
        "--state" -> "state", "-f" -> "fullRefresh", "--full-refresh" -> "fullRefresh",
        "--plan" -> "plan", "-e" -> "env", "--env" -> "env",
        "--container-runtime" -> "containerRuntime",
        "-p" -> "package", "--package" -> "package",
        "-t" -> "packageType", "--package-type" -> "packageType",
        "-m" -> "model", "--model" -> "model",
        "-c" -> "credentials", "--credentials" -> "credentials",
        "--datasource" -> "datasource", "--stream" -> "stream",
        "-o" -> "streamOptions", "--stream-options" -> "streamOptions",
        "--checkpoint-every" -> "checkpointEvery", "--sync-id" -> "syncId"),
      Set("fullRefresh", "plan"))
    // ad-hoc mode (commands/index.ts:109-139): -p <package> -m <model>
    // -c <credentials> runs one sync WITHOUT a project directory
    if (flags.contains("model")) return adhocSync(flags, out, spark)
    val dir = projectDir(flags, pos)
    val project = ProjectLoader.load(dir, extraEnvFiles = envFilesOf(flags))
    val selected = flags.get("select")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(project.syncs.keys.toSeq.sorted)
    if (selected.isEmpty) { out("No syncs found in the project"); return 1 }
    val store = StateStore.onFile(flags.getOrElse("state",
      Paths.get(dir, ".state").toString))
    val full = flags.contains("fullRefresh")
    var failures = 0
    selected.foreach { id =>
      if (flags.contains("plan"))
        printPlan(project.planSync(spark(), id, store, fullRefresh = full), out)
      else try {
        val conn = project.connections(project.syncs(id).destination)
        // image connections route through the container runtime when one
        // is named (`--container-runtime docker`); without it they use the
        // in-process destination profile (see ProjectLoader.runSync)
        val rt = flags.get("containerRuntime")
          .map(b => graft.sinks.ContainerRuntime(binary = b))
        val r = project.runSync(spark(), id, store, transportFor(project, conn, rt),
          fullRefresh = full, containerRuntime = rt)
        printReport(r, out)
      } catch {
        case e: Exception => out(s"✘ $id failed: ${e.getMessage}"); failures += 1
      }
    }
    if (failures > 0) 1 else 0
  }

  /** Run `describe-streams` on the live connector and render its declared
    * streams — names, default, and the rowType's JSON-schema properties
    * when the connector publishes them. */
  private def liveStreams(conn: ProjectLoader.ConnectionDef, out: String => Unit,
                          command: Option[(Seq[String], Option[String])],
                          image: Option[(String, graft.sinks.ContainerRuntime)]): Int = {
    import org.json4s._
    import org.json4s.jackson.Serialization
    implicit val fmts: Formats = DefaultFormats
    val config = graft.sinks.ProcessSink.Config(
      command = command.map(_._1).getOrElse(Seq.empty),
      cwd = command.flatMap(_._2),
      stream = "-",
      connectionCredentials = Serialization.write(conn.credentials),
      image = image.map(_._1),
      runtime = image.map(_._2).getOrElse(graft.sinks.ContainerRuntime()))
    val (_, spec) = graft.sinks.ProcessSink.describe(config)
    out(s"Destination ${conn.id} (live connector) — ${spec.streams.length} stream(s), " +
      s"default '${spec.defaultStream}':")
    spec.streams.foreach { s =>
      out(s"  ${s.name}")
      s.rowType \ "properties" match {
        case JObject(fields) =>
          val required = (s.rowType \ "required") match {
            case JArray(vs) => vs.collect { case JString(n) => n }.toSet
            case _ => Set.empty[String]
          }
          fields.foreach { case (fname, fschema) =>
            val t = (fschema \ "type") match { case JString(t) => t; case _ => "any" }
            out(s"    $fname: $t${if (required(fname)) " (required)" else ""}")
          }
        case _ => ()
      }
    }
    0
  }

  /** AD-HOC sync (commands/index.ts:109-139): one sync composed entirely
    * from flags — `-p` package (image name, or an npm dir with
    * `-t npm`), `-m` model (inline SQL with `--{{ config }}` directives,
    * or @file), `-c` credentials (JSON or @file), `--datasource` when the
    * model text doesn't declare one, `--stream`/`-o`/`--checkpoint-every`
    * as sync options, `--sync-id` for durable state keys. No project
    * directory is touched. */
  private def adhocSync(flags: Map[String, String], out: String => Unit,
                        spark: () => SparkSession): Int = {
    val pkg = flags.getOrElse("package",
      throw new IllegalArgumentException("ad-hoc sync needs -p <package> with -m and -c"))
    val cwd = System.getProperty("user.dir")
    // -e env files layer over .env/.env.local exactly like project mode
    val env = graft.project.EnvVars.projectEnv(cwd, envFilesOf(flags), sys.env)
    val modelText = graft.project.EnvVars.substitute(
      readArgOrFile(flags("model")), env, "adhoc model")
    val md0 = ProjectLoader.parseModel(Paths.get("adhoc.sql"), modelText, env)
    val md = flags.get("datasource").map(ds => md0.copy(datasource = ds)).getOrElse(md0)
    val creds = parseJsonObject(readArgOrFile(flags.getOrElse("credentials", "{}")))
    val packageType = flags.getOrElse("packageType", "docker")
    val conn =
      if (packageType == "npm")
        ProjectLoader.ConnectionDef("adhoc", "adhoc", image = None,
          credentials = creds, options = Map.empty,
          dir = Some(pkg), packageType = Some("npm"))
      else
        ProjectLoader.ConnectionDef("adhoc", ProjectLoader.kindFromImage(pkg),
          image = Some(pkg), credentials = creds, options = Map.empty)
    // default id derives from model+kind, so two different ad-hoc syncs
    // sharing a state file do NOT share a cursor key (a constant "sync"
    // would silently resume model B from model A's high-water mark)
    val syncId = flags.getOrElse("syncId", s"adhoc-${conn.kind}-${md.id}")
    val options: Map[String, Any] =
      flags.get("stream").map[(String, Any)]("stream" -> _).toMap ++
      flags.get("checkpointEvery").map[(String, Any)](n => "checkpointEvery" -> n.toLong).toMap ++
      flags.get("streamOptions").map(parseJsonObject).getOrElse(Map.empty)
    val sync = ProjectLoader.SyncDef(syncId, md.id, conn.id, options)
    val project = ProjectLoader.GraftProject(
      cwd, env, Map(md.id -> md), Map(conn.id -> conn), Map(syncId -> sync))
    val store = StateStore.onFile(flags.getOrElse("state",
      Paths.get(cwd, ".state").toString))
    val rt = flags.get("containerRuntime")
      .map(b => graft.sinks.ContainerRuntime(binary = b))
    try {
      if (flags.contains("plan")) {
        // --plan is a DRY RUN here too — pricing, never delivery
        printPlan(project.planSync(spark(), syncId, store,
          fullRefresh = flags.contains("fullRefresh")), out)
        return 0
      }
      val r = project.runSync(spark(), syncId, store, transportFor(project, conn, rt),
        fullRefresh = flags.contains("fullRefresh"), containerRuntime = rt)
      printReport(r, out)
      0
    } catch {
      case e: Exception => out(s"✘ $syncId failed: ${e.getMessage}"); 1
    }
  }

  // ------------------------------------------------------- connector-dev

  /** commands/connector-dev.ts:14-73: test a connector under development —
    * compose an ad-hoc project from the connector directory plus explicit
    * model and connection files ([[ProjectLoader.adhoc]]) and run one real
    * sync with durable state (default `<dir>/.state`, connector-dev.ts:63).
    * `-s` names a sync file when it points at one, else the sync id of a
    * synthesized model→connection sync. */
  private def connectorDev(args: Seq[String], out: String => Unit,
                           spark: () => SparkSession): Int = {
    val (flags, pos) = parseOpts(args,
      dirAliases ++ Map("-m" -> "model", "--model" -> "model",
        "-c" -> "connection", "--connection" -> "connection",
        "-s" -> "sync", "--sync" -> "sync",
        "--state" -> "state", "-f" -> "fullRefresh", "--full-refresh" -> "fullRefresh",
        "-e" -> "env", "--env" -> "env"),
      Set("fullRefresh"))
    val dir = projectDir(flags, pos)
    val modelFile = flags.getOrElse("model",
      throw new IllegalArgumentException("connector-dev needs -m <model-file>"))
    val connFile = flags.getOrElse("connection",
      throw new IllegalArgumentException("connector-dev needs -c <connection-file>"))
    val project = ProjectLoader.adhoc(dir, modelFile, connFile,
      syncRef = flags.getOrElse("sync", "sync"), extraEnvFiles = envFilesOf(flags))
    val syncId = project.syncs.keys.head
    val conn = project.connections(project.syncs(syncId).destination)
    out(s"Running sync $syncId with model ${project.syncs(syncId).model} " +
      s"and connection ${conn.id}")
    val store = StateStore.onFile(flags.getOrElse("state",
      Paths.get(dir, ".state").toString))
    try {
      val r = project.runSync(spark(), syncId, store, transportFor(project, conn, None),
        fullRefresh = flags.contains("fullRefresh"))
      printReport(r, out)
      0
    } catch {
      case e: Exception => out(s"✘ $syncId failed: ${e.getMessage}"); 1
    }
  }

  /** Stand-in transport for connections that deliver through the stdio
    * connector protocol — runSync never calls it; reaching it is a
    * routing bug, not a config error. */
  private object StdioOnly extends RestSink.Transport {
    def send(batch: Seq[Map[String, Any]]): Unit =
      throw new IllegalStateException(
        "stdio-connector sync must not use the REST transport")
  }

  /** Pick the wire for one sync: connections that route through the
    * process/container channel (command, npm, or image-with-runtime) get
    * the inert [[StdioOnly]] transport — their delivery happens inside
    * runSync; everything else resolves a real HTTP transport. */
  private def transportFor(project: ProjectLoader.GraftProject,
                           conn: ProjectLoader.ConnectionDef,
                           rt: Option[graft.sinks.ContainerRuntime]): RestSink.Transport =
    if (project.commandFor(conn).isDefined || (conn.image.isDefined && rt.isDefined))
      StdioOnly
    else transportFor(conn)

  /** The wire for a connection: `command` connections deliver via the
    * stdio connector protocol inside runSync (never here); everything
    * else posts HTTP. The http kind carries its own url/headers
    * (http/src/index.ts:11-18); API kinds default to their service
    * endpoint with bearer auth, overridable via connection
    * `options.url` — the escape hatch this no-egress environment's specs
    * use to point at a local server. */
  private[cli] def transportFor(conn: ProjectLoader.ConnectionDef): RestSink.Transport = {
    def cred(k: String): Option[String] =
      conn.credentials.get(k).collect { case s: String => s }
    def opt(k: String): Option[String] =
      conn.options.get(k).collect { case s: String => s }
    val headerList: Map[String, String] = conn.credentials.get("headers")
      .collect { case l: Seq[_] => l.collect { case s: String => s } }.getOrElse(Nil)
      .flatMap { h =>
        h.split(":", 2) match { case Array(k, v) => Some(k.trim -> v.trim); case _ => None }
      }.toMap
    val bearer = cred("accessToken").orElse(cred("apiKey"))
      .map(t => Map("Authorization" -> s"Bearer $t")).getOrElse(Map.empty)
    // public service endpoints (the reference connectors' own targets:
    // intercom api.intercom.io index.ts:61, facebook graph.facebook.com
    // index.ts:50; hubspot/resend/mixpanel per their public API docs)
    val defaults = Map(
      "intercom" -> "https://api.intercom.io/contacts",
      "hubspot" -> "https://api.hubapi.com/crm/v3/objects/contacts/batch/upsert",
      "resend" -> "https://api.resend.com/contacts",
      "mixpanel" -> "https://api.mixpanel.com/engage",
      "facebook-ads" -> "https://graph.facebook.com/v19.0")
    val url = opt("url").orElse(cred("url")).orElse(defaults.get(conn.kind))
      .getOrElse(throw new IllegalArgumentException(
        s"connection '${conn.id}' (kind ${conn.kind}): no delivery URL — set credentials.url or options.url"))
    RestSink.HttpTransport(url, headers = bearer ++ headerList,
      method = cred("method").getOrElse("POST"),
      timeoutMs = conn.credentials.get("timeout").collect {
        case n: Long => n; case n: Int => n.toLong; case n: Double => n.toLong
      }.getOrElse(10000L))
  }

  // ------------------------------------------------------------- helpers

  private def write(p: Path, body: String): Unit =
    Files.write(p, body.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** `@/path` reads the file (reference `-c @/path/to/file.json`,
    * commands/index.ts:124-126); anything else is inline JSON. */
  private def readArgOrFile(v: String): String =
    if (v.startsWith("@")) new String(
      Files.readAllBytes(Paths.get(v.drop(1))), java.nio.charset.StandardCharsets.UTF_8)
    else v

  private def parseJsonObject(text: String): Map[String, Any] = {
    import org.json4s._
    val parsed = try org.json4s.jackson.JsonMethods.parse(text) catch {
      case e: Exception => throw new IllegalArgumentException(
        s"credentials are not valid JSON: ${e.getMessage}")
    }
    parsed match {
      case JObject(fields) => fields.map { case (k, v) => k -> fromJValue(v) }.toMap
      case other => throw new IllegalArgumentException(
        s"credentials must be a JSON object, got ${other.getClass.getSimpleName}")
    }
  }

  private def fromJValue(v: org.json4s.JValue): Any = {
    import org.json4s._
    v match {
      case JString(s) => s
      case JInt(i) => if (i.isValidLong) i.toLong else i
      case JLong(l) => l
      case JDouble(d) => d
      case JDecimal(d) => d
      case JBool(b) => b
      case JNull => null
      case JArray(items) => items.map(fromJValue)
      case JObject(fields) => fields.map { case (k, x) => k -> fromJValue(x) }.toMap
      case JNothing => null
      case JSet(items) => items.map(fromJValue)
    }
  }

  /** Emit one `key: value` (or block list / nested map) in the YAML
    * subset [[graft.project.Yaml]] reads back. */
  private def yamlEntry(indent: String, k: String, v: Any): Seq[String] = v match {
    case l: Seq[_] =>
      s"$indent$k:" +: l.map(item => s"$indent  - ${yamlScalar(item)}")
    case m: Map[_, _] =>
      s"$indent$k:" +: m.asInstanceOf[Map[String, Any]].toSeq.sortBy(_._1)
        .flatMap { case (kk, vv) => yamlEntry(indent + "  ", kk, vv) }
    case other => Seq(s"$indent$k: ${yamlScalar(other)}")
  }

  /** Quote a YAML scalar only when needed (our Yaml subset reads bare
    * ints/doubles/bools and quoted strings). */
  private def yamlScalar(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case n: Long => n.toString
    case n: Int => n.toString
    case n: Double => n.toString
    case n: BigInt => n.toString
    case s => "\"" + s.toString.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  }
}
