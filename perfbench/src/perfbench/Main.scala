package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run: set up a workload several times (the last set-up
  * serves the run), drive its closed loop with one client thread for
  * `--seconds`, check every operation, and write the run's metrics as a
  * flat JSON object to `--result`.
  *
  *   Main --workload <name> --inputs <dir> --work <dir> --seconds <n>
  *        --trace <0|1> --cores <n> --setups <n> --result <file>
  *        [--trace-out <file>]
  *   Main --selftest 1 --work <dir>
  */
object Main {
  private val MinServe = 6

  /** Old-generation occupancy after a full collection. The pause lets
    * the reference handler and Spark's context cleaner drop what the
    * first collection found unreachable, so the second one leaves only
    * live data (a single collection read up to twice as much). */
  private def oldGenMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP &&
        (p.getName.contains("Old") || p.getName.contains("Tenured")))
      .map(_.getUsage.getUsed).sum / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (a.contains("selftest")) { SelfTest.run(a("work")); return }
    val name = a("workload")
    val inputs = a("inputs")
    val work = a("work")
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val cores = a.getOrElse("cores", Runtime.getRuntime.availableProcessors().toString).toInt
    val setups = a.getOrElse("setups", "2").toInt

    val t0 = System.nanoTime()
    var spark: SparkSession = null
    var wl: Workload = null
    val setupS = (0 until setups).map { rep =>
      if (wl != null) {
        wl.close(); spark.stop(); Workload.deleteTree(s"$work/rep${rep - 1}")
      }
      Trace.reset()
      Trace.opId = -1
      val check0 = Trace.checkNs.get
      val (_, ns) = Workload.timed {
        spark = GraftSession.local(cores, "perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        if (trace) Trace.attach(spark)
        wl = Workload(name, spark, inputs, s"$work/rep$rep")
        Trace.op("setup")(wl.setup(checked = rep == setups - 1))
      }
      (ns - (Trace.checkNs.get - check0)) / 1e9
    }
    // retained heap is sampled after fixed amounts of work (set-up, and
    // the loop's first operation of each kind), not at the end of a
    // time-bound loop whose length would leak into it
    var heap = oldGenMb()
    System.err.println(f"[perfbench] set-ups done after ${(System.nanoTime() - t0) / 1e9}%.1f s")

    val steps = mutable.ArrayBuffer[Step]()
    var failed = 0
    var i = 0
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    // a bulk operation and MinServe serving ones at least, however long
    // the bulk one takes: a tail needs samples
    def bothKinds = steps.exists(_.serve) && steps.exists(!_.serve)
    def enough = bothKinds && steps.count(_.serve) >= MinServe
    while ((System.nanoTime() < deadline || !enough) && wl.hasNext) {
      Trace.opId = i
      val st =
        try Trace.op("op")(wl.step(i))
        catch { case e: Exception => Step(serve = false, 0, 0, Seq(s"threw $e")) }
      if (st.failures.nonEmpty) {
        failed += 1
        st.failures.foreach(f => System.err.println(s"[perfbench] op $i FAILED: $f"))
      }
      val first = !bothKinds
      steps += st
      i += 1
      if (first && bothKinds) heap = math.max(heap, oldGenMb())
    }
    Trace.opId = -1
    val endFailures =
      try wl.finish() catch { case e: Exception => Seq(s"final check threw $e") }
    endFailures.foreach(f => System.err.println(s"[perfbench] final check FAILED: $f"))
    if (endFailures.nonEmpty) failed += 1
    System.err.println(f"[perfbench] loop and final checks done after ${(System.nanoTime() - t0) / 1e9}%.1f s " +
      f"(${Trace.checkNs.get / 1e9}%.1f s of checks)")

    val bulk = steps.filter(s => !s.serve && s.ns > 0).toSeq
    val serve = steps.filter(s => s.serve && s.ns > 0).toSeq
    require(bulk.nonEmpty && serve.nonEmpty,
      s"run too short: ${bulk.size} bulk and ${serve.size} serving operations")
    val serveMs = serve.map(s => Workload.ms(s.ns))
    val tailP = Workload.tailPercentile(serveMs.size)
    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> Workload.median(setupS),
      "bulk_items_per_s" -> bulk.map(_.items).sum / (bulk.map(_.ns).sum / 1e9),
      "bulk_p50_ms" -> Workload.median(bulk.map(s => Workload.ms(s.ns))),
      "serve_p50_ms" -> Workload.median(serveMs),
      "serve_tail_ms" -> Workload.quantile(serveMs, tailP),
      "retained_heap_mb" -> heap)

    val named = wl.named(steps.toSeq) ++ Seq(
      ("setup_s", e2e("setup_s"), "s"),
      ("retained_heap_mb", heap, "MB"),
      ("failed_op_ratio", failed.toDouble / (steps.size + 1), "ratio"))
    println(s"[perfbench] workload $name: ${steps.size} operations " +
      s"(${bulk.size} bulk, ${serve.size} serving), serving tail = p${(tailP * 100).round} " +
      s"of ${serveMs.size} samples, set-ups ${setupS.map(s => f"$s%.2f").mkString(" ")} s")
    named.foreach { case (k, v, u) => println(f"[perfbench]   $k%-34s $v%14.4f $u") }

    val out = mutable.LinkedHashMap[String, Double]()
    var consistent = true
    if (trace) {
      val layers = Trace.report()
      consistent = layers("spark.span_jobs") + layers("spark.unattributed_jobs") ==
        layers("spark.jobs")
      if (!consistent) System.err.println("[perfbench] span jobs + unattributed jobs != spark.jobs")
      e2e.foreach { case (k, v) => layers(s"traced.$k") = v }
      layers.toSeq.sortBy(_._1).foreach { case (k, v) =>
        println(f"[perfbench]   $k%-60s $v%16.3f") }
      a.get("trace-out").foreach(p => Trace.writeJson(p, layers))
      out ++= layers
    } else out ++= e2e
    val result =
      s"""{"correct": ${failed == 0 && consistent}, "attempted": ${steps.size + 1}, """ +
        s""""failed": $failed, "metrics": ${Json.obj(out)}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(a("result")), result.getBytes("UTF-8"))
    wl.close()
    spark.stop()
  }
}
