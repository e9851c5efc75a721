package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Main => GraftMain, SparkEntry}
import graft.images.SyntheticImages
import graft.pipeline.ImageDedupPipeline

/** Output quality of a checked run. */
final case class Checked(recall: Double, precision: Double)

trait Workload {
  /** Operations per unit; a failed unit fails all of them. */
  def attemptsPerUnit: Int = 1
  /** Input items per unit, the numerator of `items_per_s`. */
  def items: Double
  /** Untimed: generates the inputs under `dir`. */
  def prepare(spark: SparkSession, dir: String): Unit
  /** Untimed warm-up after the last set-up. */
  def warmup(spark: SparkSession, tr: Tracer): Unit
  /** One unit of work; `traced` units run with spans at layer boundaries. */
  def unit(spark: SparkSession, tr: Tracer, traced: Boolean): AnyRef
  /** Checks a unit's output; throws when it is wrong. */
  def check(spark: SparkSession, out: AnyRef): Unit
  /** Untimed, once after the timed units: the output quality. */
  def quality(spark: SparkSession): Checked
  /** Untimed, once after the traced units (inside a span). */
  def afterTraced(spark: SparkSession, tr: Tracer): Unit = ()
  /** Per-layer metrics of the traced units. */
  def layerMetrics(tr: Tracer, c: EngineCounters, units: Seq[Span],
                   plan: Seq[(Span, Double)]): Map[String, Double]
  def settings: Map[String, String]
}

object Layers {
  val PipelineStages = Seq("s1_annotated", "s2_shingles", "s3_lsh_pairs", "s4_substr_pairs",
    "s5_img_pairs", "s6_verified_edges", "s7_clusters")
  val DetailQueries = Seq("q08_dedup_clusters", "q17_ann_topk")
  val MB = 1e6

  /** Every per-layer metric, 0 where the workload does not reach the layer. */
  def zeros: Map[String, Double] = {
    val pipe = PipelineStages.flatMap(s =>
      Seq("self_s", "rows", "shuffle_write_mb").map(m => s"pipeline.$s.$m")) ++
      Seq("pipeline.s3_lsh_pairs.shuffle_records", "pipeline.s7_clusters.jobs")
    val store = Seq("stages_served", "stages_computed", "served_ratio", "write_s",
      "bytes_written_mb", "bytes_per_row").map(m => s"store.$m")
    val query = Seq("construct_s", "execute_s", "plan_s", "construct_jobs", "execute_jobs")
      .map(m => s"query.$m") ++ DetailQueries.flatMap(q =>
        Seq("construct_s", "execute_s", "construct_jobs").map(m => s"query.$q.$m"))
    (pipe ++ store ++ query).map(_ -> 0.0).toMap
  }

  def counts(c: EngineCounters, spans: Seq[Span]): Counts = {
    val acc = new Counts
    spans.foreach(s => Option(c.bySpan.get(s.id)).foreach(acc.add))
    acc
  }
}

/** The flagship batch job: `ImageDedupPipeline.runDirect` over a parquet
  * scan of generated images, clusters fully materialized. */
final class DedupFull(seed: Long) extends Workload {
  val n = 2000L
  private var input: String = _
  private var expected: Option[(Long, Long)] = None
  private var checked: Checked = _
  private val direct = mutable.ArrayBuffer.empty[TracedDirectStore]
  private var durable: TimedStore = _

  def items: Double = n.toDouble
  def settings: Map[String, String] = Map("n" -> n.toString)

  def prepare(spark: SparkSession, dir: String): Unit = {
    input = s"$dir/input"
    SyntheticImages.generate(spark, n, seed).toDF().write.mode("overwrite").parquet(input)
  }

  /** Four units: JIT compilation takes about that many to settle. The
    * first one's output is checked against the planted truth. */
  def warmup(spark: SparkSession, tr: Tracer): Unit = {
    expected = None
    (1 to 4).foreach { _ =>
      check(spark, unit(spark, tr, traced = false))
      Main.release(spark)
    }
  }

  def unit(spark: SparkSession, tr: Tracer, traced: Boolean): AnyRef = {
    val scan = spark.read.parquet(input)
    if (!traced) ImageDedupPipeline.runDirect(spark, scan).localCheckpoint(eager = true)
    else {
      val store = new TracedDirectStore(tr)
      direct += store
      ImageDedupPipeline.run(spark, scan, store).localCheckpoint(eager = true)
    }
  }

  /** The warm-up's output is checked against the planted truth; every
    * timed unit's must have the same (image_id, cluster_id) fingerprint. */
  def check(spark: SparkSession, out: AnyRef): Unit = {
    val clusters = out.asInstanceOf[DataFrame]
    val fp = Main.fingerprint(clusters, "image_id")
    expected match {
      case Some(e) => require(fp == e, "clusters differ from the checked warm-up's")
      case None =>
        require(fp._1 == n, s"rows out ${fp._1} != $n")
        val truth = SyntheticImages.truth(spark, n).toDF()
        val (recall, _, _) = GraftMain.pairRecall(clusters, truth)
        val (precision, _, _) = GraftMain.pairPrecision(clusters, truth)
        val viral = clusters.join(spark.read.parquet(input)
            .where(col("caption") === "photo of a photo").select("image_id"), "image_id")
          .groupBy("cluster_id").count().where(col("count") > 1).count()
        require(recall == 1.0 && precision == 1.0, s"recall $recall, precision $precision")
        require(viral == 0, s"$viral viral-caption clusters merged")
        checked = Checked(recall, precision)
        expected = Some(fp)
    }
  }

  def quality(spark: SparkSession): Checked = checked

  /** The durable store: the checkpointed pipeline into a fresh
    * `StageCheckpoint`, then resumed from it (every stage served). */
  override def afterTraced(spark: SparkSession, tr: Tracer): Unit = {
    durable = new TimedStore(tr, spark, s"$input-store")
    Seq("computed", "resumed").foreach { run =>
      val out = tr.span(run)(ImageDedupPipeline.run(spark, spark.read.parquet(input), durable))
      require(expected.contains(Main.fingerprint(out, "image_id")),
        s"$run checkpointed clusters differ from runDirect's")
    }
  }

  def layerMetrics(tr: Tracer, c: EngineCounters, units: Seq[Span],
                   plan: Seq[(Span, Double)]): Map[String, Double] = {
    val u = units.size.toDouble
    val inUnits = units.flatMap(s => tr.subtree(s.id))
    val byId = tr.spans.map(s => s.id -> s).toMap
    val pipeline = Layers.PipelineStages.flatMap { st =>
      val spans = inUnits.filter(_.name == st)
      val incl = Layers.counts(c, spans.flatMap(s => tr.subtree(s.id)))
      Seq(s"pipeline.$st.self_s" -> spans.map(tr.selfSeconds).sum / u,
        s"pipeline.$st.rows" -> direct.map(_.rows(st)).sum / u,
        s"pipeline.$st.shuffle_write_mb" -> incl.shuffleWriteBytes / Layers.MB / u) ++
        (if (st == "s3_lsh_pairs") Seq(s"pipeline.$st.shuffle_records" -> incl.shuffleWriteRecords / u)
         else if (st == "s7_clusters") Seq(s"pipeline.$st.jobs" -> incl.jobs / u)
         else Nil)
    }
    val d = durable
    pipeline.toMap ++ Map(
      "store.stages_served" -> d.served.toDouble,
      "store.stages_computed" -> d.computed.toDouble,
      "store.served_ratio" -> d.served.toDouble / (d.served + d.computed),
      "store.write_s" -> d.computedSpans.map(i => tr.selfSeconds(byId(i))).sum,
      "store.bytes_written_mb" -> d.bytesWritten / Layers.MB,
      "store.bytes_per_row" -> d.bytesWritten.toDouble / n)
  }
}

/** Driver queries from `SparkEntry.queries`, each built and written to the
  * noop sink as `graft.Bench` times them, on generated tables. */
final class QuerySuite(seed: Long) extends Workload {
  private var dir: String = _
  private var planted: Seq[(Long, Long)] = Nil
  private lazy val all = SparkEntry.queries
  private val walls = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  override def attemptsPerUnit: Int = QuerySuite.Names.size
  def items: Double = QuerySuite.Names.size.toDouble
  def settings: Map[String, String] = Map(
    "queries" -> QuerySuite.Names.mkString(","),
    "tables" -> "generated with the shapes of scale factor 0.001",
    "query_median_s" -> walls.toSeq.sortBy(_._1).map { case (q, w) =>
      s"$q=${w.sorted.apply(w.size / 2)}" }.mkString(","))

  def prepare(spark: SparkSession, d: String): Unit = {
    dir = d
    planted = QueryData.write(spark, s"$dir/tables", seed)
  }

  /** One pass over the queries; a query that throws fails the pass. */
  def unit(spark: SparkSession, tr: Tracer, traced: Boolean): AnyRef =
    QuerySuite.Names.map { q =>
      val t0 = System.nanoTime()
      tr.span(q) {
        val df = tr.span("construct")(all(q)(spark, s"$dir/tables"))
        tr.span("execute")(df.write.mode("overwrite").format("noop").save())
      }
      q -> (System.nanoTime() - t0) / 1e9
    }

  /** Four passes: the first writes each result to parquet instead of the
    * noop sink (the dump the DuckDB comparison reads), the others are
    * timed-region passes, run untimed because the first passes after the
    * dump are the slowest. */
  def warmup(spark: SparkSession, tr: Tracer): Unit = {
    QuerySuite.Names.foreach { q =>
      all(q)(spark, s"$dir/tables").write.mode("overwrite").parquet(s"$dir/oracle/$q")
    }
    (1 to 3).foreach { _ =>
      Main.release(spark)
      unit(spark, tr, traced = false)
    }
  }

  /** A timed pass writes to the noop sink, so it leaves no output to
    * compare (the warm-up's dump is compared); records per-query walls. */
  def check(spark: SparkSession, out: AnyRef): Unit =
    out.asInstanceOf[Seq[(String, Double)]].foreach { case (q, w) =>
      walls.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += w
    }

  /** Writes the oracle SQL next to the warm-up's dump, and scores q08's
    * clusters against the planted near-duplicate documents. */
  def quality(spark: SparkSession): Checked = {
    val sql = QuerySuite.Names.map(q => s"${Json.str(q)}:${Json.str(SparkEntry.oracleSql(q))}")
    Files.writeString(Paths.get(s"$dir/oracle/oracle_sql.json"), sql.mkString("{", ",", "}"))
    val clusters = spark.read.parquet(s"$dir/oracle/q08_dedup_clusters")
      .select(col("doc_id").as("image_id"), col("cluster_id"))
    import spark.implicits._
    val truth = planted.toDF("a", "b")
    val (recall, _, _) = GraftMain.pairRecall(clusters, truth)
    val (precision, _, _) = GraftMain.pairPrecision(clusters, truth)
    Checked(recall, precision)
  }

  def layerMetrics(tr: Tracer, c: EngineCounters, units: Seq[Span],
                   plan: Seq[(Span, Double)]): Map[String, Double] = {
    val u = units.size.toDouble
    val inUnits = units.flatMap(s => tr.subtree(s.id))
    val byId = tr.spans.map(s => s.id -> s).toMap
    def phase(name: String, q: Option[String] = None): Seq[Span] = inUnits.filter(s =>
      s.name == name && byId.get(s.parent).exists(p => q.forall(_ == p.name)))
    def secs(spans: Seq[Span]): Double = spans.map(_.seconds).sum / u
    def jobs(spans: Seq[Span]): Double =
      Layers.counts(c, spans.flatMap(s => tr.subtree(s.id))).jobs / u
    Map(
      "query.construct_s" -> secs(phase("construct")),
      "query.execute_s" -> secs(phase("execute")),
      "query.plan_s" -> plan.map(_._2).sum / u,
      "query.construct_jobs" -> jobs(phase("construct")),
      "query.execute_jobs" -> jobs(phase("execute"))
    ) ++ Layers.DetailQueries.flatMap { q =>
      Seq(s"query.$q.construct_s" -> secs(phase("construct", Some(q))),
        s"query.$q.execute_s" -> secs(phase("execute", Some(q))),
        s"query.$q.construct_jobs" -> jobs(phase("construct", Some(q))))
    }
  }
}

object QuerySuite {
  /** Near-duplicate clustering of documents on the pipeline's operators
    * (construction-heavy), then one query for each module the pipeline
    * never reaches: AnnSearch, Sketches, Sampling, ZOrder, AsOfJoin,
    * RangeJoin and Percentiles. */
  val Names: Seq[String] = Seq("q08_dedup_clusters", "q17_ann_topk",
    "q70_countmin", "q45_sample_bernoulli", "q71_zorder", "q68_asof_join", "q73_range_join",
    "q74_percentiles")
}
