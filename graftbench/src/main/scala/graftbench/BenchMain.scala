package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.GraftSession
import graft.api.IngestApi
import graft.core.{IngestConfig, JobState}
import graft.operators.{JobLog, JobRunner}
import org.apache.spark.graftbench.ListenerBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, TimeUnit}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** JVM side of the benchmark: runs one workload in one process and writes
  * its raw observations (times, events, outputs) as JSON for `run.py`,
  * which turns them into metrics and checks the outputs.
  *
  * Usage: graftbench.BenchMain --workload ingest|stream_microbatch
  *   --work DIR --trace 0|1 --out FILE
  *
  * Each workload runs a fixed number of passes, so what one run measures
  * does not depend on how fast the program is: `ingest` every pass of the
  * generated schedule, `stream_microbatch` `Stream.Passes` passes.
  *
  * Everything before the timed region — session build, warm-up, fixtures,
  * train-once artifacts — is set-up; the JSON records the wall-clock moment
  * the timed region starts so set-up is billed up to it.
  */
object BenchMain {

  private val Cores = 4

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = Paths.get(opts("work")).toAbsolutePath.toString
    val workload = opts("workload")
    val trace = opts("trace") == "1"
    val spark = GraftSession.builder(s"local[$Cores]", Cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReadyMs = nowMs
    val recorder = new Recorder(full = trace)
    spark.sparkContext.addSparkListener(recorder)
    val result =
      try workload match {
        case "ingest" => new Ingest(spark, work, recorder).run()
        case "stream_microbatch" => new Stream(spark, work, recorder).run()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } finally spark.stop()
    Files.writeString(Paths.get(opts("out")),
      Json.write(result ++ Map("peak_rss_kb" -> peakRssKb(),
        "jvm_start_ms" -> java.lang.management.ManagementFactory
          .getRuntimeMXBean.getStartTime.toDouble,
        "session_ready_ms" -> sessionReadyMs)))
  }

  /** VmHWM of this process: the benchmark process's peak resident memory. */
  def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  def nowMs: Double = System.currentTimeMillis().toDouble
}

/** JSON in and out, as plain Scala maps, sequences and scalars. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)

  def read(s: String): Any = scalaOf(mapper.readTree(s))

  private def scalaOf(n: com.fasterxml.jackson.databind.JsonNode): Any =
    if (n.isObject) n.properties().asScala.map(e => e.getKey -> scalaOf(e.getValue)).toMap
    else if (n.isArray) n.elements().asScala.map(scalaOf).toSeq
    else if (n.isIntegralNumber) n.longValue()
    else if (n.isNumber) n.doubleValue()
    else if (n.isBoolean) n.booleanValue()
    else if (n.isNull) null
    else n.asText()
}

/** `ingest`: the reference's own path through the HTTP API, one closed-loop
  * client — exists GET, PUT ingest, status polls — over the generated tree.
  */
final class Ingest(spark: SparkSession, work: String, recorder: Recorder) {
  import BenchMain._

  private val schema = StructType(Seq(
    StructField("event_ts", TimestampType),
    StructField("device_id", StringType),
    StructField("event_type", StringType),
    StructField("payload", StringType),
    StructField("bytes", LongType)))
  private val cfg = IngestConfig(s"file:$work/raw", s"file:$work/landing",
    schema, partitionField = "event_ts", clusterField = "device_id")

  /** Completion of a load job, from its JobLog outcome line. */
  private val outcomes = new ConcurrentHashMap[String, CompletableFuture[(Long, String)]]()
  private def outcome(jobId: String) =
    outcomes.computeIfAbsent(jobId, _ => new CompletableFuture[(Long, String)]())
  private val JobIdRe = "\"job_id\":\"([^\"]+)\"".r
  private val StatusRe = "\"status\":\"([A-Z_]+)\"".r
  private val NameRe = "\"name\":\"([A-Z_]+)\"".r
  private val sink: (String, String) => Unit = (_, line) =>
    if (line.contains("\"event\":\"load_job\"")) {
      val t = System.nanoTime()
      for (id <- JobIdRe.findFirstMatchIn(line); st <- StatusRe.findFirstMatchIn(line))
        outcome(id.group(1)).complete((t, st.group(1)))
    }

  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  private var port = 0

  /** One HTTP round trip: (status code, body, seconds). */
  private def call(method: String, path: String): (Int, String, Double) = {
    val t0 = System.nanoTime()
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .method(method, if (method == "PUT") HttpRequest.BodyPublishers.ofString("{}")
        else HttpRequest.BodyPublishers.noBody())
      .build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body(), (System.nanoTime() - t0) / 1e9)
  }

  /** Drive one hour through the API; returns the record of what happened.
    * `latency_s` runs from sending the exists GET to the outcome line.
    */
  private def hour(op: Map[String, Any]): Map[String, Any] = {
    val id = op("hour").toString
    val kind = op("kind").toString
    val t0 = System.nanoTime()
    val startMs = nowMs
    val rec = Map[String, Any]("hour" -> id, "kind" -> kind, "start_ms" -> startMs)
    try {
      val (ec, eb, es) = call("GET", s"/partition/$id/exists/in-bucket")
      val present = ec == 200 && eb.trim == "1"
      if (kind == "absent")
        return rec ++ Map("ok" -> (ec == 200 && eb.trim == "0"), "exists_s" -> es,
          "latency_s" -> (System.nanoTime() - t0) / 1e9)
      if (!present) return rec ++ Map("ok" -> false, "error" -> s"exists=$eb")
      val (pc, pb, ps) = call("PUT", s"/partition/$id/ingest")
      val putEndMs = nowMs
      val jobId = JobIdRe.findFirstMatchIn(pb).map(_.group(1)).orNull
      if (pc != 201 || jobId == null || !pb.contains("\"code\":1"))
        return rec ++ Map("ok" -> false, "error" -> s"put $pc $pb")
      val done = outcome(jobId)
      val statusS = ArrayBuffer.empty[Double]
      var state = "RUNNING"
      while (state == "RUNNING") {
        val (sc, sb, ss) = call("GET", s"/load_job/$jobId/status")
        statusS += ss
        state = NameRe.findFirstMatchIn(sb).map(_.group(1)).getOrElse(s"HTTP $sc")
        if (state == "RUNNING")
          try done.get(50, TimeUnit.MILLISECONDS)
          catch { case _: java.util.concurrent.TimeoutException => () }
      }
      val (doneNs, logged) = done.get(60, TimeUnit.SECONDS)
      rec ++ Map("ok" -> (state == JobState.Success.name && logged == state),
        "job_id" -> jobId, "exists_s" -> es, "put_s" -> ps,
        "status_s" -> statusS.toSeq, "put_end_ms" -> putEndMs,
        "outcome_ms" -> (startMs + (doneNs - t0) / 1e6),
        "latency_s" -> (doneNs - t0) / 1e9, "error" -> (if (state == "SUCCESS") ""
          else s"status $state"))
    } catch { case NonFatal(e) => rec ++ Map("ok" -> false, "error" -> e.toString) }
  }

  def run(): Map[String, Any] = {
    val schedule = Json.read(Files.readString(Paths.get(s"$work/schedule.json")))
      .asInstanceOf[Map[String, Any]]
    def ops(v: Any): Seq[Map[String, Any]] = v.asInstanceOf[Seq[Map[String, Any]]]
    JobLog.addSink(sink)
    val api = new IngestApi(spark, new JobRunner(spark), cfg)
    port = api.start()
    try {
      // untimed load jobs; `run.py` checks them like the timed ones
      val warm = ops(schedule("warm")).map(hour(_) + ("pass" -> "warm"))
      ListenerBus.drain(spark.sparkContext)
      recorder.clear()
      val timedStartMs = nowMs
      val records = ArrayBuffer.empty[Map[String, Any]]
      val passS = ArrayBuffer.empty[Double]
      val passes = schedule("passes").asInstanceOf[Seq[Seq[Map[String, Any]]]]
      for ((pass, p) <- passes.zipWithIndex) {
        val tp = System.nanoTime()
        records ++= pass.map(hour(_) + ("pass" -> p))
        passS += (System.nanoTime() - tp) / 1e9
      }
      val tl = System.nanoTime()
      records ++= ops(schedule("large")).map(hour(_) + ("pass" -> -1))
      val largeS = (System.nanoTime() - tl) / 1e9
      val timedEndMs = nowMs
      ListenerBus.drain(spark.sparkContext)
      Map("workload" -> "ingest", "timed_start_ms" -> timedStartMs,
        "timed_end_ms" -> timedEndMs, "warm" -> warm,
        "pass_s" -> passS.toSeq, "large_s" -> largeS,
        "records" -> records.toSeq, "landed" -> landed(),
        "trace" -> recorder.dump)
    } finally {
      api.stop()
      JobLog.removeSink(sink)
    }
  }

  /** Per-hour aggregates of the landing table, for the correctness check. */
  private def landed(): Seq[Map[String, Any]] =
    graft.sources.LandingTable.read(spark, cfg)
      .groupBy(date_format(col("event_ts"), "yyyyMMddHH").as("hour"))
      .agg(count(lit(1)).as("rows"), sum(col("bytes")).as("bytes_sum"),
        sum(minute(col("event_ts")) * 60 + second(col("event_ts"))).as("sec_sum"))
      .collect().toSeq.map(r => Map("hour" -> r.getString(0),
        "rows" -> r.getLong(1), "bytes_sum" -> r.getLong(2),
        "sec_sum" -> r.getLong(3)))
}

object Stream {
  /** ROADMAP direction 2's keyed micro-batch family, represented by its
    * serving stream: ANN serve over a built index, one batchId-keyed
    * SnapshotLog commit per micro-batch, four micro-batches per pass.
    */
  val Query = "st20_streaming_ann_serve"
  val Passes = 3
  /** Untimed passes first: the first builds every fixture, the rest let
    * the JIT settle so the timed passes do not still speed up.
    */
  val WarmPasses = 3
}

/** `stream_microbatch`: `Stream.WarmPasses` untimed, then `Stream.Passes`
  * timed passes of the st20 stream. Each pass runs the query once and
  * writes its result as parquet (the complete result a consumer reads);
  * `run.py` checks every written result, the untimed ones too.
  */
final class Stream(spark: SparkSession, work: String, recorder: Recorder) {
  import BenchMain._
  import Stream._

  /** One pass into `out`; a non-fatal error is recorded, not thrown. */
  private def pass(label: String, out: String): Map[String, Any] = {
    val startMs = nowMs
    val t0 = System.nanoTime()
    val err =
      try {
        graft.SparkEntry.queries(Query)(spark, work)
          .coalesce(1).write.mode("overwrite").parquet(out)
        ""
      } catch { case NonFatal(e) => e.toString }
      finally spark.catalog.clearCache()
    Map("pass" -> label, "out" -> out, "start_ms" -> startMs, "end_ms" -> nowMs,
      "wall_s" -> (System.nanoTime() - t0) / 1e9, "error" -> err)
  }

  def run(): Map[String, Any] = {
    val warm = (0 until WarmPasses).map(w => pass(s"warm$w", s"$work/out/warm$w"))
    ListenerBus.drain(spark.sparkContext)
    recorder.clear()
    val timedStartMs = nowMs
    val execs = (0 until Passes).map(p => pass(s"$p", s"$work/out/p$p"))
    val timedEndMs = nowMs
    ListenerBus.drain(spark.sparkContext)
    Map("workload" -> "stream_microbatch", "timed_start_ms" -> timedStartMs,
      "timed_end_ms" -> timedEndMs, "warm_execs" -> warm, "execs" -> execs,
      "pass_s" -> execs.map(_("wall_s")),
      "oracle_sql" -> graft.SparkEntry.oracleSql(Query), "trace" -> recorder.dump)
  }
}
