package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Eligibility
import graft.sources.CsvSource
import graft.streaming.EligibilityStream

/** The realtime eligibility path (the `eligibility_stream` traffic of
  * the `etl_warehouse` workload): a running file-source query over a
  * landing directory. Each micro-batch audits every raw line, parses the
  * messages and joins the eligibility checks to the latest-flights
  * dimension (`EligibilityStream.process`), writing the audit and
  * result sinks. The client lands one request file atomically, calls
  * `processAllAvailable()`, reads that batch's results and only then
  * sends the next. Every fifth file also carries a corrupt line, which
  * is audited but never dispatched. */
final class StreamClient(spark: SparkSession, in: String, work: String) {
  private val requests = Option(new java.io.File(s"$in/stream/requests").list())
    .getOrElse(Array.empty[String]).sorted.toVector
  private val landing = s"$work/landing"
  private val auditDir = s"$work/audit"
  private val resultDir = s"$work/results"
  private var query: StreamingQuery = _
  private var flights: DataFrame = _
  /** passenger id -> (expected reason) from the batch rule. */
  private var expected: Map[String, String] = Map.empty
  private var next = 0
  private var lastBatch = -1L

  private def linesOf(f: String): Seq[String] =
    Files.readAllLines(Paths.get(s"$in/stream/requests/$f")).asScala.toSeq.filter(_.nonEmpty)

  /** Expected reason per request from the batch `Eligibility.check` over
    * the typed dimension. The typed rule cannot see a malformed time
    * string (it casts to NULL), so where both raw times are non-empty it
    * reads `invalid_time_format` as the raw cascade defines it. */
  private def batchExpectation(): Map[String, String] = Trace.check("check.stream_expected") {
    val msgs = EligibilityStream.parseMessages(
      spark.read.schema("value STRING").text(s"$in/stream/requests"))
      .filter(col("is_json") && col("type") === "eligibility_check")
      .select("flight_number", "passenger_id")
    val typed = flights.select(col("flight_number"),
      to_timestamp(col("scheduled_departure")).as("sched_ts"),
      to_timestamp(col("actual_departure")).as("act_ts"),
      (length(coalesce(col("scheduled_departure"), lit(""))) > 0 &&
        length(coalesce(col("actual_departure"), lit(""))) > 0).as("raw_present"))
    Eligibility.check(msgs, typed, "flight_number", "sched_ts", "act_ts")
      .select(col("passenger_id"),
        when(col("reason") === "missing_time_data" && col("raw_present"),
          lit("invalid_time_format")).otherwise(col("reason")))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
  }

  private def startQuery(): StreamingQuery = {
    val raw = spark.readStream.schema("value STRING").text(landing)
    raw.writeStream
      .option("checkpointLocation", s"$work/checkpoint")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val audit = Trace.call("streaming.EligibilityStream.audit")(EligibilityStream.audit(batch))
        Trace.sink("sink.stream_audit")(audit.write.parquet(s"$auditDir/b$id"))
        val parsed = Trace.call("streaming.EligibilityStream.parseMessages")(
          EligibilityStream.parseMessages(batch))
        val result = Trace.call("streaming.EligibilityStream.process")(
          EligibilityStream.process(parsed, flights))
        Trace.sink("sink.stream_result")(result.write.parquet(s"$resultDir/b$id"))
      }
      .start()
  }

  /** Land request file `f` and wait for its results. */
  private def send(f: String, checked: Boolean = true): Step = {
    val lines = linesOf(f)
    val (rows, ns) = Workload.timed {
      val tmp = Paths.get(landing, s".$f.tmp")
      Files.copy(Paths.get(s"$in/stream/requests/$f"), tmp)
      Files.move(tmp, Paths.get(landing, f), StandardCopyOption.ATOMIC_MOVE)
      // a trigger that listed the directory just before the move can
      // report "no new data" after this call began; wait for the batch
      val giveUp = System.nanoTime() + 60000000000L
      do query.processAllAvailable()
      while ((query.lastProgress == null || query.lastProgress.batchId <= lastBatch) &&
        System.nanoTime() < giveUp)
      val upTo = query.lastProgress.batchId
      val got = (lastBatch + 1 to upTo).flatMap(b =>
        spark.read.parquet(s"$resultDir/b$b").select("passenger_id", "reason").collect()
          .map(r => (r.getString(0), r.getString(1))))
      lastBatch = upTo
      got
    }
    val failures = if (!checked) Nil else Trace.check("check.stream") {
      val want = lines.filter(_.startsWith("{")).map(l =>
        org.json4s.jackson.JsonMethods.parse(l) \ "payload" \ "passengerId")
        .map(_.values.toString)
      val byPid = rows.groupBy(_._1)
      want.flatMap { pid =>
        byPid.get(pid) match {
          case Some(Seq((_, reason))) if expected.get(pid).contains(reason) => None
          case Some(Seq((_, reason))) =>
            Some(s"$pid: stream reason $reason, batch rule says ${expected.get(pid)}")
          case other => Some(s"$pid: ${other.fold(0)(_.size)} results, want 1")
        }
      } ++ rows.map(_._1).filterNot(want.toSet).map(p => s"unexpected result for $p")
    }
    Step(serve = true, lines.count(_.startsWith("{")).toLong, ns, failures)
  }

  def setup(checked: Boolean): Unit = {
    Files.createDirectories(Paths.get(landing))
    val raw = Trace.call("sources.CsvSource.readAllString")(
      CsvSource.readAllString(spark, s"$in/stream/flights.csv"))
    flights = Trace.call("operators.Eligibility.latestPerFlight")(
      Eligibility.latestPerFlight(raw, "flight_number", "scheduled_departure"))
      .drop(CsvSource.IngestId).cache()
    Trace.sink("sink.flights_dim")(flights.count())
    if (checked) expected = batchExpectation()
    query = startQuery()
    // warm-up: the first request file
    while (next < 1) {
      val st = send(requests(next), checked)
      next += 1
      require(st.failures.isEmpty, st.failures.mkString("; "))
    }
  }

  def hasNext: Boolean = next < requests.size

  /** Send the next request file. */
  def step(): Step = {
    val st = send(requests(next))
    next += 1
    st
  }

  def close(): Unit = if (query != null) { query.stop(); query.awaitTermination() }
}
