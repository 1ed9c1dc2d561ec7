package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.GraftSession
import graft.pipelines.CleaningPipelines
import graft.sources.CsvSource

/** Planted-failure self-test of the output checks: a dropped quarantine
  * row and a returned deleted id must each be counted as a failure,
  * while the untouched outputs pass. Prints one line per case and exits
  * non-zero if any planted failure goes unnoticed. */
object SelfTest {
  def run(work: String): Unit = {
    var ok = true
    def expect(name: String, failures: Seq[String], wantFailure: Boolean): Unit = {
      val pass = failures.nonEmpty == wantFailure
      ok &&= pass
      println(s"[selftest] ${if (pass) "ok  " else "MISS"} $name -> " +
        (if (failures.isEmpty) "no failure" else failures.mkString("; ")))
    }

    // 1. ETL: clean + quarantine must account for every input row.
    val spark = GraftSession.local(2, "perfbench-selftest")
    spark.sparkContext.setLogLevel("ERROR")
    try {
      Files.createDirectories(Paths.get(work))
      val csv = s"$work/airlinesales.csv"
      Files.write(Paths.get(csv), Seq(
        "TransactionID,PassengerID,FlightID,FareClass,TicketPrice",
        "BK1,P10001,AA1,Economy,\"$1,200.00\"",
        "BK2,P10002,AA2,First,300.00",
        ",P10003,AA3,Economy,12.00",
        "BK2,P10004,AA4,Business,$99.00").asJava)
      val res = CleaningPipelines.cleanFile("airlinesales",
        CsvSource.readAllString(spark, csv))
      CsvSource.writeClean(res.clean, s"$work/clean")
      CsvSource.writeQuarantine(res.quarantine, s"$work/quarantine")
      expect("etl split, untouched sinks",
        EtlWorkload.splitFailure("airlinesales", s"$work/clean", s"$work/quarantine", 4).toSeq,
        wantFailure = false)
      // plant: drop one data row from a non-empty quarantine part file
      val part = new java.io.File(s"$work/quarantine").listFiles()
        .filter(f => f.getName.startsWith("part-") && f.length() > 0)
        .find(f => Files.readAllLines(f.toPath).size > 1).get
      val lines = Files.readAllLines(part.toPath).asScala
      Files.write(part.toPath, lines.dropRight(1).asJava)
      expect("etl split, one quarantine row dropped",
        EtlWorkload.splitFailure("airlinesales", s"$work/clean", s"$work/quarantine", 4).toSeq,
        wantFailure = true)
    } finally spark.stop()

    // 2. ANN: a deleted id must never come back.
    val res = (1L to 10L).map(n => (-1L, n, n.toDouble))
    expect("ann search, clean result",
      AnnWorkload.searchFailures("tier 0", 10, Set(42L), Seq(-1L), Nil, res),
      wantFailure = false)
    expect("ann search, deleted id returned",
      AnnWorkload.searchFailures("tier 0", 10, Set(7L), Seq(-1L), Nil, res),
      wantFailure = true)
    expect("ann search, written id not its own top-1",
      AnnWorkload.searchFailures("tier 0", 10, Set.empty, Seq(-1L), Seq((-1L, 5L)), res),
      wantFailure = true)
    if (!ok) sys.exit(1)
  }
}
