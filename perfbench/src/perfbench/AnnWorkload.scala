package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.json4s._

import graft.operators.{Pq, Sq}
import graft.sources.{AnnIndex, JsonlSource}

/** `ann_serving`: two persisted indexes over the same seeded vectors,
  * one IVF-PQ (tier 0) and one SQ8 (tier 1), built in set-up. The loop
  * serves small top-k search panels that alternate between the tiers;
  * every third operation is instead a seeded write. Writes cycle
  * append, delete, upsert, compact, and their tiers follow
  * 0 1 0 1 1 0 1 0, so every run's first four writes use all four verbs
  * and eight cover every verb on both tiers.
  * Each search re-opens the index at its newest generation, as a
  * serving process that must see every committed write does.
  *
  * Bulk operation: one write or compact (items = vectors written, 1 for
  * a compact). Serving operation: one search panel (items = queries). */
final class AnnWorkload(spark: SparkSession, in: String, work: String) extends Workload {
  import Json.formats

  private val K = 10
  private val Nprobe = 4
  private val schema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))
  private val dirs = Seq(s"$work/ivfpq", s"$work/sq8")
  private val nlist = (Json.read(s"$in/expected.json") \ "nlist").extract[Int]

  private def lines(f: String): Vector[JValue] = {
    val src = scala.io.Source.fromFile(s"$in/$f", "UTF-8")
    try src.getLines().map(org.json4s.jackson.JsonMethods.parse(_)).toVector
    finally src.close()
  }
  private def vec(v: JValue): Array[Float] = v.extract[Seq[Double]].map(_.toFloat).toArray

  private val panels = lines("panels.jsonl").map(_.children.map(vec))
  private val recallPanel = lines("recall_panel.jsonl").map(vec)
  private val writes = lines("writes.jsonl")

  /** What each tier should hold: live vectors and deleted ids. */
  private val live = Seq.fill(2)(mutable.LongMap[Array[Float]]())
  private val deleted = Seq.fill(2)(mutable.Set[Long]())
  /** Vectors written by the last write on a tier, searched for next. */
  private val pendingOwn = Seq.fill(2)(mutable.ArrayBuffer[(Long, Array[Float])]())
  private val recall0 = Array(0.0, 0.0)
  private var nextWrite = 0
  private var searches = 0
  private var writesDone = 0

  private def frame(rows: Seq[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(rows.map { case (i, v) => Row(i, v.toSeq) }.asJava, schema)

  /** Search tier `t`: (query id, neighbor id, score) rows, where a
    * smaller score is nearer on both tiers. */
  private def search(t: Int, q: DataFrame): Seq[(Long, Long, Double)] =
    if (t == 0) {
      val idx = Trace.call("sources.AnnIndex.load")(AnnIndex.load(spark, dirs(0)))
      val r = Trace.call("sources.AnnIndex.topK")(
        AnnIndex.topK(idx, q, "vec_id", "embedding", k = K, nprobe = Nprobe))
      Trace.sink("sink.search")(r.collect()).map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    } else {
      val idx = Trace.call("sources.AnnIndex.loadSq")(AnnIndex.loadSq(spark, dirs(1)))
      val r = Trace.call("sources.AnnIndex.topKSq")(
        AnnIndex.topKSq(idx, q, "vec_id", "embedding", k = K, nprobe = Nprobe, prune = true))
      Trace.sink("sink.search")(r.collect()).map(r => (r.getLong(0), r.getLong(1), -r.getDouble(2)))
    }

  /** Brute-force distance of tier `t`: squared L2 for IVF-PQ, negated
    * cosine for SQ8 (smaller is nearer on both). */
  private def dist(t: Int, a: Array[Float], b: Array[Float]): Double = {
    var i = 0; var l2 = 0.0; var dot = 0.0; var na = 0.0; var nb = 0.0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      l2 += (x - y) * (x - y); dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (t == 0) l2 else -dot / math.sqrt(na * nb)
  }

  /** Mean recall@K of the fixed panel against brute force over the
    * tier's live vectors. */
  private def recall(t: Int): Double = Trace.check("check.ann_recall") {
    val qs = recallPanel.zipWithIndex.map { case (v, j) => (-1000L - j, v) }
    val got = search(t, frame(qs)).groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    qs.map { case (q, v) =>
      val truth = live(t).iterator.map { case (id, w) => (dist(t, v, w), id) }.toArray
        .sorted.take(K).map(_._2).toSet
      got.getOrElse(q, Set.empty).intersect(truth).size.toDouble / K
    }.sum / qs.size
  }

  private def searchStep(t: Int, panel: Seq[Array[Float]]): Step = {
    val qs = panel.zipWithIndex.map { case (v, j) => (-1L - j, v) }
    val own = pendingOwn(t).zipWithIndex.map { case ((id, v), j) => (-100L - j, id, v) }.toSeq
    pendingOwn(t).clear()
    val q = frame(qs ++ own.map { case (qid, _, v) => (qid, v) })
    val (res, ns) = Workload.timed(search(t, q))
    val failures = Trace.check("check.ann_search")(AnnWorkload.searchFailures(
      s"tier $t", K, deleted(t), qs.map(_._1) ++ own.map(_._1),
      own.map { case (qid, id, _) => (qid, id) }, res))
    Step(serve = true, qs.size + own.size, ns, failures)
  }

  private def writeStep(): Step = {
    val t = (writesDone + writesDone / 4) % 2
    writesDone += 1
    val w = writes(nextWrite)
    nextWrite += 1
    val kind = (w \ "kind").extract[String]
    val rows = (w \ "rows").children
    val ids = rows.map(r => (r \ "vec_id").extract[Long])
    val (_, ns) = Workload.timed(kind match {
      case "compact" =>
        Trace.call("sources.AnnIndex.compact")(AnnIndex.compact(spark, dirs(t)))
      case "delete" =>
        val df = frame(ids.map(i => (i, Array.emptyFloatArray)))
        Trace.call("sources.AnnIndex.delete")(AnnIndex.delete(df, "vec_id", dirs(t)))
      case _ =>
        val df = frame(rows.map(r => ((r \ "vec_id").extract[Long], vec(r \ "embedding"))))
        (kind, t) match {
          case ("append", 0) => Trace.call("sources.AnnIndex.appendIvfPq")(
            AnnIndex.appendIvfPq(df, "vec_id", "embedding", dirs(0)))
          case ("append", _) => Trace.call("sources.AnnIndex.appendSq")(
            AnnIndex.appendSq(df, "vec_id", "embedding", dirs(1)))
          case (_, 0) => Trace.call("sources.AnnIndex.upsertBatchIvfPq")(
            AnnIndex.upsertBatchIvfPq(df, "vec_id", "embedding", dirs(0)))
          case _ => Trace.call("sources.AnnIndex.upsertBatchSq")(
            AnnIndex.upsertBatchSq(df, "vec_id", "embedding", dirs(1)))
        }
    })
    val failures = kind match {
      case "compact" =>
        val r = recall(t)
        if (r + 1e-9 < recall0(t))
          Seq(f"tier $t recall@$K fell to $r%.3f from ${recall0(t)}%.3f after compact")
        else Nil
      case "delete" =>
        ids.foreach { i => live(t).remove(i); deleted(t) += i }
        Nil
      case _ =>
        rows.foreach(r => live(t)((r \ "vec_id").extract[Long]) = vec(r \ "embedding"))
        pendingOwn(t) ++= rows.take(2).map(r => ((r \ "vec_id").extract[Long], vec(r \ "embedding")))
        Nil
    }
    Step(serve = false, math.max(1, ids.size).toLong, ns, failures)
  }

  def setup(checked: Boolean): Unit = {
    val (base, _) = Trace.call("sources.JsonlSource.readSplit")(
      JsonlSource.readSplit(spark, s"$in/vectors.jsonl", schema, Seq("vec_id", "embedding")))
    val corpus = base.select("vec_id", "embedding")
    // the client trains the coarse quantizer and PQ codebooks on the
    // driver; the same rows seed the checks' brute-force truth
    val rows = Trace.sink("sink.train_sample")(
      corpus.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)))
    rows.foreach { case (i, v) => live.foreach(_(i) = v) }
    // coarse centroids: the first nlist rows, one per cluster, normalized
    val cents = rows.sortBy(_._1).take(nlist).map { case (_, v) =>
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(_ / n)
    }
    def nearest(v: Array[Float]): Array[Double] =
      cents.maxBy(c => c.indices.map(i => c(i) * v(i)).sum)
    // PQ codebooks: residuals of a fixed sample of 256 rows
    val samples = rows.sortBy(_._1).drop(nlist).grouped(rows.length / 256).map(_.head)
      .take(256).map { case (_, v) => val c = nearest(v); v.indices.map(i => v(i) - c(i)).toArray }
      .toArray
    val cbs = Pq.codebooks(samples, m = 8)
    val sqModel = Trace.call("operators.Sq.fit")(Sq.fit(corpus, "embedding"))
    Trace.call("sources.AnnIndex.buildIvfPq")(
      AnnIndex.buildIvfPq(corpus, "vec_id", "embedding", dirs(0), cents, cbs))
    Trace.call("sources.AnnIndex.buildSq")(
      AnnIndex.buildSq(corpus, "vec_id", "embedding", dirs(1), sqModel, Some(cents)))
    if (checked) for (t <- 0 to 1) recall0(t) = recall(t)
    // warm-up: one panel per tier
    for (t <- 0 to 1) {
      val st = searchStep(t, panels(t))
      require(st.failures.isEmpty, st.failures.mkString("; "))
    }
  }

  def hasNext: Boolean = nextWrite < writes.size && searches + 2 < panels.size

  def step(i: Int): Step =
    if (i % 3 == 2) writeStep()
    else {
      val t = searches % 2
      searches += 1
      searchStep(t, panels(searches + 1))
    }

  override def finish(): Seq[String] = (0 to 1).flatMap { t =>
    val r = recall(t)
    if (r + 1e-9 < recall0(t)) Some(f"tier $t recall@$K fell to $r%.3f from ${recall0(t)}%.3f")
    else None
  }

  def named(steps: Seq[Step]): Seq[(String, Double, String)] = {
    val s = steps.filter(x => x.serve && x.ns > 0)
    val w = steps.filter(x => !x.serve && x.ns > 0)
    val ms = s.map(x => Workload.ms(x.ns))
    Seq(
      ("ann_search_p50_ms", Workload.median(ms), "ms"),
      ("ann_search_tail_ms", Workload.quantile(ms, Workload.tailPercentile(ms.size)), "ms"),
      ("ann_write_p50_ms", Workload.median(w.map(x => Workload.ms(x.ns))), "ms"),
      ("ann_queries_per_s", s.map(_.items).sum / (s.map(_.ns).sum / 1e9), "1/s"),
      ("ann_recall_at_10_ivfpq", recall0(0), "ratio"),
      ("ann_recall_at_10_sq8", recall0(1), "ratio"))
  }
}

object AnnWorkload {
  /** Output checks of one search: `k` results per query, no deleted id,
    * and each freshly written vector ranks first (ties allowed) for the
    * query made from it. `res` rows are (query, neighbor, score), a
    * smaller score being nearer. */
  def searchFailures(tier: String, k: Int, deleted: collection.Set[Long],
                     qids: Seq[Long], own: Seq[(Long, Long)],
                     res: Seq[(Long, Long, Double)]): Seq[String] = {
    val byQ = res.groupBy(_._1)
    qids.flatMap { q =>
      val n = byQ.get(q).fold(0)(_.size)
      if (n != k) Some(s"$tier query $q: $n results, want $k") else None
    } ++ res.collect { case (q, id, _) if deleted(id) =>
      s"$tier query $q returned deleted id $id"
    } ++ own.flatMap { case (q, id) =>
      val rs = byQ.getOrElse(q, Seq.empty)
      val best = if (rs.isEmpty) Double.NaN else rs.map(_._3).min
      rs.find(_._2 == id) match {
        case Some((_, _, s)) if s == best => None
        case _ => Some(s"$tier: written id $id is not its own top-1 after its commit")
      }
    }
  }
}
