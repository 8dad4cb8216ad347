package graft.sinks

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.mutable.ArrayBuffer
import graft.sync.ErrorThreshold

/**
 * B13 — batched, rate-limited REST destination sink.
 *
 * Reference semantics (studied, not ported): connectors push fixed-size
 * batches (facebook-ads/src/index.ts: 1000-row audience batches), honor
 * rate limits with a retry-after (node-cdk/src/rate-limit.ts), and a sync
 * aborts once the failure ratio crosses the error threshold
 * (core/src/lib/error-threshold.ts: ≥20% over ≥100 rows).
 *
 * Spark-first execution: `df.foreachPartition` — every executor streams its
 * partition through a local batcher + token bucket, so throughput scales
 * with the cluster while per-destination politeness is enforced by
 * `permitsPerSecond / numPartitions` budgeting on each task. No rows ever
 * funnel through the driver.
 */
object RestSink {

  /** Transport abstraction — real HTTP in production; tests inject a
    * recording/failing fake (this environment has no egress). Must be
    * Serializable: instances ship to executors. */
  trait Transport extends Serializable {
    /** Deliver one batch; throw RateLimited to request a delay+retry,
      * any other exception counts as a failed batch. */
    def send(batch: Seq[Map[String, Any]]): Unit
  }

  final case class RateLimited(retryAfterMs: Long) extends RuntimeException(s"rate limited, retry after ${retryAfterMs}ms")

  /** Production HTTP transport over the JDK 11+ client (no extra
    * dependency; instances serialize to executors, the client itself is
    * rebuilt lazily per-JVM). Batches post as a JSON array. HTTP 429
    * converts to [[RateLimited]] honoring `Retry-After` seconds — the
    * push loop then delays and retries, the same reactive pacing the
    * reference connectors implement per-request (e.g.
    * connectors/intercom/src/index.ts:330's retry-after handling); any
    * other non-2xx is a failed batch for the error threshold. */
  final case class HttpTransport(url: String,
                                 headers: Map[String, String] = Map.empty,
                                 method: String = "POST",
                                 timeoutMs: Long = 10000L) extends Transport {
    @transient private lazy val client: java.net.http.HttpClient =
      java.net.http.HttpClient.newBuilder()
        .connectTimeout(java.time.Duration.ofMillis(timeoutMs)).build()

    def send(batch: Seq[Map[String, Any]]): Unit = {
      implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
      val body = org.json4s.jackson.Serialization.write(batch.map(_.toMap))
      val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
        .timeout(java.time.Duration.ofMillis(timeoutMs))
        .header("Content-Type", "application/json")
      headers.foreach { case (k, v) => b.header(k, v) }
      val resp = client.send(
        b.method(method, java.net.http.HttpRequest.BodyPublishers
          .ofString(body, java.nio.charset.StandardCharsets.UTF_8)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      resp.statusCode() match {
        case 429 =>
          val retryMs = resp.headers().firstValue("Retry-After")
            .map[Long](s => s.trim.toLong * 1000L).orElse(1000L)
          throw RateLimited(retryMs)
        case c if c >= 300 =>
          throw new RuntimeException(s"HTTP $c from $url: ${resp.body().take(200)}")
        case _ => ()
      }
    }
  }

  final case class Config(
      batchSize: Int = 1000,
      maxRetries: Int = 3,
      permitsPerSecond: Double = 0.0, // 0 = unlimited
      /** Upper bound on concurrent write tasks used as the rate divisor.
        * 0 = snapshot `defaultParallelism` at submit time — correct for
        * static clusters; under DYNAMIC allocation executors added
        * mid-write would push true concurrency above that snapshot and
        * the aggregate send rate past `permitsPerSecond`, so set this to
        * the allocation cap (spark.dynamicAllocation.maxExecutors ×
        * cores) to keep the budget honest. */
      maxConcurrency: Int = 0)

  final case class Result(sentRows: Long, failedRows: Long, batches: Long, retries: Long)

  /** Per-destination delivery profiles, matching the reference connectors'
    * documented behavior (studied, not ported):
    *  - facebook/twitter audiences: 1000-row batches
    *    (connectors/facebook-ads/src/index.ts:28, node-cdk/src/index.ts:94)
    *  - mixpanel profiles: 2000-row batches (connectors/mixpanel/main.go:27)
    *  - intercom/hubspot upserts: cdk-default 1000 batches, 429s honored
    *    via retry-after (connectors/intercom/src/index.ts:330)
    *  - resend contacts: row-at-a-time with a 1 s retry loop
    *    (connectors/resend/src/index.ts:69-96) → batch 1 + a paced bucket
    *  - http: caller-chosen batch size (connectors/http/src/index.ts:150)
    * The reference enforces pacing reactively (catch 429, sleep); graft
    * ALSO paces proactively via the per-task token bucket so a 1000-task
    * cluster doesn't hammer a destination between 429s. */
  object Profiles {
    val facebookAudience: Config = Config(batchSize = 1000)
    val twitterAudience: Config  = Config(batchSize = 1000)
    val mixpanelProfiles: Config = Config(batchSize = 2000)
    val intercomUpsert: Config   = Config(batchSize = 1000, maxRetries = 5)
    val hubspotUpsert: Config    = Config(batchSize = 1000, maxRetries = 5)
    val resendContacts: Config   = Config(batchSize = 1, permitsPerSecond = 10.0)
    def http(batchSize: Int): Config = Config(batchSize = batchSize)

    val byDestination: Map[String, Config] = Map(
      "facebook-ads" -> facebookAudience,
      "twitter-ads"  -> twitterAudience,
      "mixpanel"     -> mixpanelProfiles,
      "intercom"     -> intercomUpsert,
      "hubspot"      -> hubspotUpsert,
      "resend"       -> resendContacts)

    /** Profile for a destination kind; unknown kinds get the cdk default. */
    def forDestination(kind: String): Config =
      byDestination.getOrElse(kind, Config())
  }

  /** B33: delivery PLAN estimate — "how long will this sync take and how
    * many requests will it make" BEFORE any row moves, from the row count
    * and the destination's delivery profile: batches = ceil(rows/size),
    * and the floor on wall time is the token bucket (rows/permitsPerSec
    * — the bucket meters ROWS, so batch size doesn't change it; 0 = no
    * floor). The planning face of the reactive rate limiting the
    * reference does by catching 429s: at 100 M audience members this is
    * the number a human approves before the run. */
  final case class Plan(rows: Long, batches: Long, minSeconds: Double)
  def plan(rows: Long, config: Config): Plan = {
    require(rows >= 0, "row count must be >= 0")
    val batches = (rows + config.batchSize - 1) / config.batchSize
    val floorS = if (config.permitsPerSecond > 0) rows / config.permitsPerSecond else 0.0
    Plan(rows, batches, floorS)
  }

  /** The per-task rate divisor: an explicit `maxConcurrency` wins (the
    * only honest bound under dynamic allocation, where executors added
    * mid-write push true concurrency above any submit-time snapshot);
    * otherwise the defaultParallelism snapshot bounds concurrency from
    * above on a static cluster, so the aggregate send rate never exceeds
    * the configured permits (fewer partitions just under-fills the
    * budget). */
  private[sinks] def rateDivisor(spark: SparkSession, config: Config): Int =
    if (config.maxConcurrency > 0) config.maxConcurrency
    else math.max(1, spark.sparkContext.defaultParallelism)

  /** Wire-safe value normalization: temporal and binary column values
    * become the JSON strings a REST destination expects (ISO-8601 /
    * base64). Without this, java.time values reach json4s's reflective
    * fallback, which the JPMS module system blocks (`opens java.time` is
    * never granted) — every row of a sync with a timestamp column would
    * fail at the transport. Scalars pass through untouched. */
  private[sinks] def jsonSafe(v: Any): Any = v match {
    case t: java.sql.Timestamp => t.toInstant.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case t: java.time.Instant => t.toString
    case t: java.time.LocalDateTime => t.toString
    case t: java.time.LocalDate => t.toString
    case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => k -> jsonSafe(x) }.toMap
    case s: scala.collection.Seq[_] => s.map(jsonSafe)
    case other => other
  }

  /** Push `df` to `transport`. Returns global counts (accumulator-summed
    * across tasks). Throws if the error threshold trips. */
  def push(df: DataFrame, transport: Transport, config: Config = Config()): Result = {
    val spark = df.sparkSession
    val sent = spark.sparkContext.longAccumulator("restsink.sent")
    val failed = spark.sparkContext.longAccumulator("restsink.failed")
    val batches = spark.sparkContext.longAccumulator("restsink.batches")
    val retries = spark.sparkContext.longAccumulator("restsink.retries")
    val columns = df.columns
    // Rate divisor = max concurrent tasks, NOT df.rdd.getNumPartitions:
    // df.rdd would bolt an RDD[Row] deserialization step onto the final
    // plan just to count partitions.
    val parts = rateDivisor(spark, config)
    val perTaskRate = if (config.permitsPerSecond > 0) config.permitsPerSecond / parts else 0.0

    df.foreachPartition { (rows: Iterator[Row]) =>
      val limiter = new TokenBucket(perTaskRate, burst = config.batchSize.toDouble)
      val buf = new ArrayBuffer[Map[String, Any]](config.batchSize)

      def flush(): Unit = if (buf.nonEmpty) {
        limiter.acquire(buf.size)
        var attempt = 0
        var done = false
        while (!done) {
          try { transport.send(buf.toSeq); sent.add(buf.size); done = true }
          catch {
            case RateLimited(afterMs) if attempt < config.maxRetries =>
              attempt += 1; retries.add(1); Thread.sleep(afterMs)
            case _: Throwable if attempt < config.maxRetries =>
              attempt += 1; retries.add(1)
            case _: Throwable =>
              failed.add(buf.size); done = true
          }
        }
        batches.add(1)
        buf.clear()
      }

      rows.foreach { r =>
        buf += columns.iterator.map(c => c -> jsonSafe(r.getAs[Any](c))).toMap
        if (buf.size >= config.batchSize) flush()
      }
      flush()
    }

    val result = Result(sent.value, failed.value, batches.value, retries.value)
    ErrorThreshold().check(result.sentRows, result.failedRows)
    result
  }

  /** Per-task token bucket (permits/sec with burst); rate 0 = unlimited. */
  private final class TokenBucket(rate: Double, burst: Double) extends Serializable {
    private var tokens = burst
    private var last = System.nanoTime()
    def acquire(n: Int): Unit = if (rate > 0) {
      var need = n.toDouble
      while (need > tokens) {
        val now = System.nanoTime()
        tokens = math.min(burst, tokens + (now - last) / 1e9 * rate)
        last = now
        if (need > tokens) Thread.sleep(math.max(1, ((need - tokens) / rate * 1000).toLong))
      }
      tokens -= need
    }
  }
}
