package perfbench

import org.apache.spark.sql.SparkSession

/** One timed operation of a workload's closed loop. Every workload
  * mixes a bulk operation (`serve = false`: a landed batch, a shard
  * curation, an index write) with a frequent serving operation
  * (`serve = true`: an eligibility request, an incremental dedup, a
  * search). `ns` covers only the program work the client waits for;
  * output checks run after it and are not timed. */
final case class Step(serve: Boolean, items: Long, ns: Long, failures: Seq[String])

/** A workload: builds its initial state in [[setup]] (which includes
  * warm-up), then serves operations one at a time from [[step]]. */
trait Workload {
  /** Build the initial state and warm up. With `checked` (the set-up
    * that serves the run) it also checks the set-up output and records
    * what later checks compare against, throwing on a failed check;
    * earlier, discarded set-ups skip that untimed work. */
  def setup(checked: Boolean): Unit

  /** False once the generated inputs are used up. */
  def hasNext: Boolean

  /** Run operation `i` and check its output. */
  def step(i: Int): Step

  /** End-of-run checks (not timed); failures count against the run. */
  def finish(): Seq[String] = Nil

  /** The workload's named end-to-end metrics, given the run's steps. */
  def named(steps: Seq[Step]): Seq[(String, Double, String)]

  def close(): Unit = ()
}

object Workload {
  def apply(name: String, spark: SparkSession, in: String, work: String): Workload =
    name match {
      case "etl_warehouse" => new EtlWorkload(spark, in, work)
      case "corpus_curation" => new CorpusWorkload(spark, in, work)
      case "ann_serving" => new AnnWorkload(spark, in, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** Time `body`, returning its result and the elapsed nanoseconds. */
  def timed[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, System.nanoTime() - t0)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = p * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of the tail percentiles that has at least ten samples
    * beyond it; the maximum when the run has fewer than 20 samples. */
  def tailPercentile(n: Int): Double =
    Seq(0.99, 0.95, 0.9, 0.8, 0.75, 0.5).find(p => n * (1 - p) >= 10 - 1e-9)
      .getOrElse(1.0)

  def ms(ns: Long): Double = ns / 1e6

  /** Bytes of every regular file under `dir`. */
  def du(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val st = java.nio.file.Files.walk(root)
      try st.filter(p => java.nio.file.Files.isRegularFile(p))
        .mapToLong(p => java.nio.file.Files.size(p)).sum()
      finally st.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val st = java.nio.file.Files.walk(root)
      try st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p))
      finally st.close()
    }
  }
}
