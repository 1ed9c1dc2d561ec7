package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._

import graft.operators.{Components, IncrementalDedup, Profile, Quantiles, TextDedup}
import graft.pipelines.CorpusPipeline
import graft.sources.JsonlSource

/** `corpus_curation`: a seeded shard with planted exact duplicates,
  * one-token near duplicates and near-dup chains goes through
  * `CorpusPipeline.prepare`, MinHash near-dup detection and keep-best
  * component dedup, then the `Profile`/`Quantiles` side aggregates over
  * the curated shard. Small increments are then deduplicated against
  * that curated history with `IncrementalDedup.newDocs`.
  *
  * Each round of the loop curates the next shard (bulk, items = input
  * docs), then runs that shard's [[IncsPerShard]] increments against it
  * (serving, items = increment docs). */
final class CorpusWorkload(spark: SparkSession, in: String, work: String) extends Workload {
  import Json.formats

  private val shards = (Json.read(s"$in/expected.json") \ "shards").children
  private val docSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("source", StringType)))
  private val incSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))
  private val IncsPerShard = 4
  private var curated = -1

  private def curatedDir(s: Int) = s"$work/curated/shard$s"

  /** Curate shard `s`: returns (ns, failures). */
  private def curate(s: Int, checked: Boolean = true): (Long, Seq[String]) = {
    val t0 = System.nanoTime()
    val (docs, _) = Trace.call("sources.JsonlSource.readSplit")(
      JsonlSource.readSplit(spark, s"$in/shard$s.jsonl", docSchema, Seq("doc_id", "text")))
    val prepared = Trace.call("pipelines.CorpusPipeline.prepare")(
      CorpusPipeline.prepare(docs, "text", "doc_id", trainBuckets = 16))
    val survivors = docs.join(prepared.select("doc_id", "quality", "n_tokens"), "doc_id")
    val pairs = Trace.call("operators.TextDedup.minHashNearDups31")(
      TextDedup.minHashNearDups31(survivors, "text", "doc_id",
        threshold = 0.8, shingleSize = 9))
    val kept = Trace.call("operators.Components.dedupKeepBest")(
      Components.dedupKeepBest(survivors, "doc_id", "quality", pairs, "id_a", "id_b"))
    Trace.sink("sink.curated")(
      kept.drop(JsonlSource.IngestId).write.mode("overwrite").parquet(curatedDir(s)))
    val out = spark.read.parquet(curatedDir(s))
    val profile = Trace.call("operators.Profile.describe")(
      Profile.describe(out, Seq("n_tokens", "quality")))
    Trace.sink("sink.profile")(profile.collect())
    val quantiles = Trace.call("operators.Quantiles.exact")(
      Quantiles.exact(out, Seq("source"), "quality", Seq(0.1, 0.5, 0.9)))
    Trace.sink("sink.quantiles")(quantiles.collect())
    val ns = System.nanoTime() - t0
    curated = s
    (ns, if (checked) checkCurated(s, docs, prepared) else Nil)
  }

  private def checkCurated(s: Int, docs: DataFrame, prepared: DataFrame): Seq[String] =
    Trace.check("check.corpus") {
      val exactSurvivors = prepared.count()
      val out = spark.read.parquet(curatedDir(s))
      val sharedHash = out.groupBy(md5(col("text"))).count().filter(col("count") > 1).count()
      docs.createOrReplaceTempView("perfbench_docs")
      val recount = spark.sql(
        "SELECT count(DISTINCT md5(text)) FROM perfbench_docs").head().getLong(0)
      val chains = (shards(s) \ "chains").extract[Map[String, Seq[Long]]]
      val keptPerChain = out.filter(col("source").startsWith("chain"))
        .groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      (if (sharedHash > 0) Seq(s"shard $s: $sharedHash content hashes kept twice") else Nil) ++
        (if (recount != exactSurvivors)
          Seq(s"shard $s: exact dedup kept $exactSurvivors docs, SQL recount says $recount")
        else Nil) ++
        chains.keys.toSeq.sorted.flatMap { c =>
          val n = keptPerChain.getOrElse(c, 0L)
          if (n != 1) Some(s"shard $s: near-dup $c kept $n docs, want 1") else None
        }
    }

  /** Deduplicate increment `j` of shard `s` against curated shard `s`. */
  private def incremental(s: Int, j: Int): (Long, Seq[String]) = {
    val t0 = System.nanoTime()
    val (inc, _) = Trace.call("sources.JsonlSource.readSplit")(
      JsonlSource.readSplit(spark, s"$in/inc$s-$j.jsonl", incSchema, Seq("doc_id", "text")))
    val history = spark.read.parquet(curatedDir(s))
    val fresh = Trace.call("operators.IncrementalDedup.newDocs")(
      IncrementalDedup.newDocs(inc, history, "text", expectedHistoryKeys = 10000L))
    val ids = Trace.sink("sink.incremental")(
      fresh.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
    val ns = System.nanoTime() - t0
    val want = ((shards(s) \ "incs")(j) \ "new").extract[Seq[Long]]
    (ns, if (ids == want) Nil
         else Seq(s"increment $s-$j: ${ids.size} new docs, want ${want.size} " +
           s"(${ids.diff(want).take(3)} unexpected, ${want.diff(ids).take(3)} missing)"))
  }

  def setup(checked: Boolean): Unit = {
    val (_, f1) = curate(0, checked)
    val (_, f2) = incremental(0, 0)
    require(f1.isEmpty && f2.isEmpty, (f1 ++ f2).mkString("; "))
  }

  def hasNext: Boolean = true

  def step(i: Int): Step = {
    val j = i % (IncsPerShard + 1)
    if (j == 0) {
      val s = (i / (IncsPerShard + 1) + 1) % shards.size
      val (ns, f) = curate(s)
      Step(serve = false, (shards(s) \ "docs").extract[Long], ns, f)
    } else {
      val (ns, f) = incremental(curated, j - 1)
      Step(serve = true, ((shards(curated) \ "incs")(j - 1) \ "docs").extract[Long], ns, f)
    }
  }

  def named(steps: Seq[Step]): Seq[(String, Double, String)] = {
    def rate(xs: Seq[Step]) = xs.map(_.items).sum / (xs.map(_.ns).sum / 1e9)
    val inc = steps.filter(s => s.serve && s.ns > 0)
    Seq(
      ("corpus_docs_per_s", rate(steps.filter(s => !s.serve && s.ns > 0)), "1/s"),
      ("corpus_incremental_docs_per_s", rate(inc), "1/s"),
      ("corpus_incremental_p50_ms", Workload.median(inc.map(s => Workload.ms(s.ns))), "ms"))
  }
}
