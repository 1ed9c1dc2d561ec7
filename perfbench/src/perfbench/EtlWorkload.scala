package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._

import graft.pipelines.CleaningPipelines
import graft.sources.{CsvSource, VersionedTable}
import graft.warehouse.Warehouse

/** `etl_warehouse`: the reference's two kinds of traffic in one
  * process. Bulk: a landed batch of the five cleanable file types goes
  * through CSV ingest, the cleaning pipelines and the clean/quarantine
  * sinks; its airline-sales file then loads the SCD-2 booking-sales
  * warehouse (staging → pre-fact → dimension → fact), each layer
  * published as a `VersionedTable` version (items = dirty rows). The
  * set-up loads batch 0's airline sales; the loop lands batch 1, which
  * re-sends part of batch 0's keys with changed tracked attributes.
  * Serving: single eligibility requests through the running stream
  * ([[StreamClient]], items = requests) for the rest of the run. */
final class EtlWorkload(spark: SparkSession, in: String, work: String) extends Workload {
  import Json.formats

  private val expected = Json.read(s"$in/expected.json")
  private val files = Seq("airlines", "flights", "passengers", "transactions", "airlinesales")
  private val cfg = Warehouse.bookingSales
  private val key = cfg.naturalKey.head
  private val dimCols = Seq("passengerid", "flightid", "fareclass")
  private val measures = Seq("ticketprice")
  private val version = CleaningPipelines.IngestId
  private val layerNames = Seq("staging", "prefact", "dim", "fact")

  private lazy val airlineKeys = Trace.call("sources.CsvSource.readAllString")(
    CsvSource.readAllString(spark, s"$in/dims/airlines.csv"))
  private lazy val airportKeys = Trace.call("sources.CsvSource.readAllString")(
    CsvSource.readAllString(spark, s"$in/dims/airports.csv"))

  private val stream = new StreamClient(spark, in, work)
  private val warehouseNs = scala.collection.mutable.ArrayBuffer[Long]()
  private var next = 0
  private var dirtyBytes = 0L

  private def batchDir(b: Int) = f"$in/batch$b%03d"
  private def rowsOf(b: Int, f: String): Long = (expected \ "rows" \ f"batch$b%03d/$f").extract[Long]

  /** Land the `types` files of batch `b`: returns (batch ns, warehouse
    * ns, failures). */
  private def land(b: Int, types: Seq[String], checked: Boolean): (Long, Long, Seq[String]) = {
    val t0 = System.nanoTime()
    val cleaned = types.map { f =>
      val raw = Trace.call("sources.CsvSource.readAllString")(
        CsvSource.readAllString(spark, s"${batchDir(b)}/$f.csv"))
      val res = Trace.call("pipelines.CleaningPipelines.cleanFile")(
        CleaningPipelines.cleanFile(f, raw, Some(airlineKeys), "airlinekey",
          Some(airportKeys), "airportkey"))
      Trace.sink("sink.clean")(CsvSource.writeClean(res.clean, s"$work/clean/b$b/$f"))
      Trace.sink("sink.quarantine")(
        CsvSource.writeQuarantine(res.quarantine, s"$work/quarantine/b$b/$f"))
      f -> res
    }.toMap
    val t1 = System.nanoTime()
    val sales = cleaned("airlinesales").clean.withColumnRenamed("transactionid", key)
    val existing =
      if (b == 0) Warehouse.emptyLayers(cfg, sales, dimCols, measures, version)
      else {
        val Seq(st, pf, dm, fc) = layerNames.map(l =>
          Trace.call("sources.VersionedTable.readLatest")(
            VersionedTable.readLatest(spark, s"$work/wh/$l")))
        Warehouse.Layers(st, pf, dm, fc)
      }
    val layers = Iterator.from(0)
    Trace.call("warehouse.Warehouse.run")(Warehouse.run(cfg, sales, existing, dimCols,
      measures, version, date_add(lit("2024-01-01").cast("date"), b),
      materialize = (df: DataFrame) => {
        val dir = s"$work/wh/${layerNames(layers.next())}"
        Trace.sink("sources.VersionedTable.write")(VersionedTable.write(df, dir, b.toLong))
        Trace.call("sources.VersionedTable.readLatest")(VersionedTable.readLatest(spark, dir))
      }))
    val t2 = System.nanoTime()
    (t2 - t0, t2 - t1, if (checked) check(b, types) else Nil)
  }

  private def check(b: Int, types: Seq[String]): Seq[String] = Trace.check("check.etl") {
    val split = types.flatMap(f => EtlWorkload.splitFailure(s"batch $b $f",
      s"$work/clean/b$b/$f", s"$work/quarantine/b$b/$f", rowsOf(b, f)))
    val dim = VersionedTable.readLatest(spark, s"$work/wh/dim")
    val fact = VersionedTable.readLatest(spark, s"$work/wh/fact")
    val badCurrent = dim.groupBy(col(key))
      .agg(sum(when(col("is_current"), 1).otherwise(0)).as("n"))
      .filter(col("n") =!= 1).count()
    val cur = dim.filter(col("is_current")).select(col(key).as("d"))
    val mismatch = fact.select(col(key).as("f"))
      .join(cur, col("f") === col("d"), "full_outer")
      .filter(col("f").isNull || col("d").isNull).count()
    split ++
      (if (badCurrent > 0) Seq(s"batch $b: $badCurrent keys without exactly one current dim row") else Nil) ++
      (if (mismatch > 0) Seq(s"batch $b: $mismatch fact keys differ from current dim keys") else Nil)
  }

  private def ingestStats(b: Int, types: Seq[String]): Unit = types.foreach { f =>
    dirtyBytes += new java.io.File(s"${batchDir(b)}/$f.csv").length()
  }

  /** The first warehouse load: batch 0 carries only airline sales. The
    * other four file types are first cleaned in the measured batch. */
  def setup(checked: Boolean): Unit = {
    val (_, _, failures) = land(0, Seq("airlinesales"), checked)
    require(failures.isEmpty, failures.mkString("; "))
    ingestStats(0, Seq("airlinesales"))
    next = 1
    stream.setup(checked)
  }

  def hasNext: Boolean = stream.hasNext

  def step(i: Int): Step =
    if (i > 0) stream.step()
    else {
      val b = next
      next += 1
      val (ns, whNs, failures) = land(b, files, checked = true)
      ingestStats(b, files)
      warehouseNs += whNs
      Step(serve = false, files.map(rowsOf(b, _)).sum, ns, failures)
    }

  override def close(): Unit = stream.close()

  def named(steps: Seq[Step]): Seq[(String, Double, String)] = {
    val batch = steps.filter(s => !s.serve && s.ns > 0)
    val req = steps.filter(s => s.serve && s.ns > 0).map(s => Workload.ms(s.ns))
    val stored = Seq("clean", "quarantine", "wh").map(d => Workload.du(s"$work/$d")).sum
    Seq(
      ("etl_rows_per_s", batch.map(_.items).sum / (batch.map(_.ns).sum / 1e9), "1/s"),
      ("etl_batch_p50_s", Workload.median(batch.map(_.ns / 1e9)), "s"),
      ("etl_warehouse_p50_s", Workload.median(warehouseNs.map(_ / 1e9).toSeq), "s"),
      ("etl_stored_bytes_ratio", stored.toDouble / dirtyBytes, "ratio"),
      ("stream_request_p50_ms", Workload.median(req), "ms"),
      ("stream_request_tail_ms", Workload.quantile(req, Workload.tailPercentile(req.size)), "ms"))
  }
}

object EtlWorkload {
  /** Data rows of a CSV sink directory, counted from its part files
    * (each part repeats the header). */
  def sinkRows(dir: String): Long =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName.startsWith("part-") && f.length() > 0)
      .map { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().size - 1L finally src.close()
      }.sum

  /** A cleaning run must split its input: clean + quarantine rows equal
    * the input rows. */
  def splitFailure(what: String, cleanDir: String, quarantineDir: String,
                   inputRows: Long): Option[String] = {
    val got = sinkRows(cleanDir) + sinkRows(quarantineDir)
    if (got == inputRows) None
    else Some(s"$what: clean + quarantine = $got rows, input has $inputRows")
  }
}
