package graft.sinks

import org.apache.spark.sql.DataFrame
import org.json4s._

import graft.protocol.Messages._
import graft.protocol.{StateRpc, StdioConnector}
import graft.state.StateStore
import graft.sync.ErrorThreshold

/**
 * Process-connector destination: delivers a DataFrame to an external
 * connector speaking the stdio protocol — the distributed face of the
 * reference's one-container-per-sync delivery
 * (core/src/commands/sync.ts with core/src/docker/docker-channel.ts;
 * studied, not ported). Both package flavors ride the same channel:
 * `command` connectors run as-is, `image` connectors launch through the
 * pluggable [[ContainerRuntime]] (`docker run -i`, pull-with-fallback,
 * env via `-e`, RPC_URL through the host gateway).
 *
 * Spark-first execution: `df.toJSON.foreachPartition` — EVERY task spawns
 * its own connector process, opens its own `start-stream`, streams the
 * partition's rows, and closes with `end-stream` → `stream-result`.
 * Where the reference funnels a whole sync through one container, graft
 * runs one connector lane per partition, so delivery throughput scales
 * with the cluster while each lane individually speaks the unmodified
 * protocol (a reference connector binary works as-is). Rows are
 * serialized by Spark's own JSON projection (`Dataset.toJSON`, codegen'd)
 * — no driver collect, no per-row reflection.
 *
 * Each lane gets a private [[StateRpc]] bound to a store from
 * `storeFactory` (executed ON THE EXECUTOR); durable cross-run state
 * wants a store backed by shared storage keyed by (syncId, partition).
 *
 * The per-stream counters aggregate across lanes into one [[Status]],
 * and the reference's error-threshold contract applies to the total
 * (core/src/lib/error-threshold.ts: abort past 20% failures once ≥100
 * rows observed).
 */
object ProcessSink {

  /** Exactly one of `command` (command-packaged connector, run as-is) or
    * `image` (image-packaged connector, launched through `runtime` — see
    * [[ContainerRuntime]]) must be set; both flavors speak the identical
    * stdio protocol, matching the reference's two container classes
    * (container.ts:71/166). */
  final case class Config(
      command: Seq[String] = Seq.empty,
      cwd: Option[String] = None,
      env: Map[String, String] = Map.empty,
      stream: String,
      syncId: String = "sync",
      connectionCredentials: String = "{}", // JSON text; JValue is not stable across serialization
      streamOptions: String = "{}",
      fullRefresh: Boolean = false,
      replyTimeoutMs: Long = 60000,
      image: Option[String] = None,
      runtime: ContainerRuntime = ContainerRuntime()) {
    require(command.nonEmpty != image.isDefined,
      "exactly one of command or image must be set")
  }

  /** Build the stdio channel for one lane. Image configs resolve through
    * the container runtime: pull-with-fallback, then `docker run -i` with
    * bare `-e K` passthrough flags — the VALUES ride the docker CLI's own
    * process environment (ProcessBuilder.environment()), never argv, so
    * credentials and the RPC capability token stay out of the
    * world-readable /proc/<pid>/cmdline on executor hosts. */
  private def openChannel(config: Config, rpcUrl: Option[String]): StdioConnector =
    config.image match {
      case Some(img) =>
        config.runtime.ensureImage(img, s => System.err.println(s"[container] $s"))
        val laneEnv = config.env ++ rpcUrl.map("RPC_URL" -> _)
        new StdioConnector(
          config.runtime.launchCommand(img, laneEnv),
          cwd = None, env = laneEnv, replyTimeoutMs = config.replyTimeoutMs)
      case None =>
        new StdioConnector(config.command, config.cwd,
          config.env ++ rpcUrl.map("RPC_URL" -> _),
          replyTimeoutMs = config.replyTimeoutMs)
    }

  /** The state RPC for one lane: container lanes bind all interfaces,
    * advertise the host-gateway alias (docker-channel.ts:52-54) and carry
    * a per-lane capability token in the URL path (the non-loopback bind
    * would otherwise expose the store to the executor's network — the
    * reference leaves its server open; graft does not); command lanes
    * stay on loopback, token-free. */
  private def openRpc(config: Config, store: StateStore): StateRpc =
    if (config.image.isDefined)
      new StateRpc(store, bindAll = true, advertiseHost = config.runtime.rpcHost,
        token = Some(java.util.UUID.randomUUID().toString.replace("-", "")))
    else new StateRpc(store)

  /** Driver-side preflight: run the connector's `describe` and
    * `describe-streams` one-shots and verify the configured stream
    * exists, mirroring the engine's pre-sync exchange
    * (core/src/commands/sync.ts). Returns the declared spec pair. */
  def preflight(config: Config): (ConnectionSpec, StreamSpec) = {
    val (spec, streams) = describe(config)
    require(streams.streams.exists(_.name == config.stream),
      s"connector does not declare stream '${config.stream}' " +
        s"(declares: ${streams.streams.map(_.name).mkString(", ")})")
    (spec, streams)
  }

  /** The connector's own `describe` + `describe-streams` one-shots without
    * the stream-existence gate — what the reference's `streams` command
    * runs against a live connector (commands/streams.ts:15-63). */
  def describe(config: Config): (ConnectionSpec, StreamSpec) = {
    val chan = openChannel(config, rpcUrl = None)
    val spec = chan.describe()
    val streams = chan.streams(DescribeStreams(parseJson(config.connectionCredentials)))
    (spec, streams)
  }

  private def parseJson(s: String): JValue =
    try org.json4s.jackson.JsonMethods.parse(s) catch { case _: Exception => JObject() }

  /** Deliver `df` through per-partition connector processes; returns the
    * cluster-total delivery status. `storeFactory` builds each lane's
    * state store on the executor (default: in-memory, per-lane). */
  def deliver(df: DataFrame, config: Config,
              storeFactory: () => StateStore = () => StateStore.inMemory()): Status = {
    val spark = df.sparkSession
    val received = spark.sparkContext.longAccumulator("processsink.received")
    val success = spark.sparkContext.longAccumulator("processsink.success")
    val skipped = spark.sparkContext.longAccumulator("processsink.skipped")
    val failed = spark.sparkContext.longAccumulator("processsink.failed")

    df.toJSON.foreachPartition { (rows: Iterator[String]) =>
      if (rows.hasNext) { // empty partitions spawn nothing
        val store = storeFactory()
        val rpc = openRpc(config, store)
        val chan = openChannel(config, Some(rpc.url))
        try {
          chan.startStream(StartStream(config.stream,
            parseJson(config.connectionCredentials),
            parseJson(config.streamOptions),
            config.syncId, config.fullRefresh))
          rows.foreach(chan.row)
          val result = chan.stopStream()
          received.add(result.status.received)
          success.add(result.status.success)
          skipped.add(result.status.skipped)
          failed.add(result.status.failed)
        } finally {
          chan.stop()
          rpc.close()
        }
      }
    }

    val total = Status(received.value, success.value, skipped.value, failed.value)
    ErrorThreshold().check(total.received - total.failed, total.failed)
    total
  }

  /** Enrichment through a process connector: each partition holds one
    * `enrichment-connect` session and round-trips its rows
    * (protocol/src/index.ts:183-218, one keep-alive channel per task).
    * Returns the input columns plus `enriched` — the connector's response
    * row as JSON text, ready for `from_json` with the caller's schema.
    * The row order within a partition is preserved (request/response is
    * strictly sequential per lane, as in the reference). */
  def enrich(df: DataFrame, config: Config): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Encoders

    val spark = df.sparkSession
    val cols = df.columns
    // (original row json, enriched row json) pairs survive the partition
    // boundary; the original parses back out to typed columns below.
    val pairs = df.toJSON.mapPartitions { rows =>
      if (!rows.hasNext) Iterator.empty
      else {
        val chan = openChannel(config, rpcUrl = None)
        // the connector must not outlive its task even if downstream stops
        // early (limit, failure): tie the process to the task lifecycle
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => chan.stop()))
        chan.startEnrichment(EnrichmentConnect(
          parseJson(config.connectionCredentials), parseJson(config.streamOptions)))
        val it = rows.map { json =>
          val resp = chan.enrich(json)
          (json, org.json4s.jackson.JsonMethods.compact(
            org.json4s.jackson.JsonMethods.render(resp.row)))
        }
        // close the process only after the partition is fully drained
        new Iterator[(String, String)] {
          def hasNext: Boolean = {
            val h = it.hasNext
            if (!h) chan.stop()
            h
          }
          def next(): (String, String) = it.next()
        }
      }
    }(Encoders.tuple(Encoders.STRING, Encoders.STRING))

    pairs.toDF("__row", "enriched")
      .withColumn("__parsed", from_json(col("__row"), df.schema))
      .select(cols.map(c => col(s"__parsed.$c").as(c)) :+ col("enriched"): _*)
  }
}
