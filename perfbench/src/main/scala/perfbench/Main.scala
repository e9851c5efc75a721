package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark process for one run of one workload. Usage:
  *
  *   perfbench.Main --workload <dedup_full|query_suite>
  *     --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <result.json>
  *     --budget <s>
  *
  * Set-up: session start and input generation, three times (once in a
  * traced run), each in a fresh session, then an untimed warm-up in the
  * last session. That session runs timed units in a closed loop, one at a
  * time, until `--seconds` of them have passed. A unit that throws or fails its check is
  * counted as failed and never becomes a timing sample. Between units every
  * persisted block is released and a GC lets the context cleaner drop
  * shuffles and broadcasts, so no unit inherits `localCheckpoint` blocks
  * from an earlier one. No unit starts once `--budget` seconds have passed
  * since the process started, so a slow host ends the run with fewer units
  * instead of overrunning its time limit. The result (metrics, counts,
  * settings) is written to `--out` as one JSON object. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, out: String, budget: Double)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("work"), kv("out"), kv("budget").toDouble)
    val wl: Workload = o.workload match {
      case "dedup_full" => new DedupFull(o.seed)
      case "query_suite" => new QuerySuite(o.seed)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    val result = new Runner(o, wl).run()
    Files.writeString(Paths.get(o.out), result)
  }

  val Cores: Int = Runtime.getRuntime.availableProcessors()

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Releases every persisted block (localCheckpoint included) and lets
    * the context cleaner drop unreferenced shuffles and broadcasts. */
  def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    System.gc()
    require(spark.sparkContext.getPersistentRDDs.isEmpty, "persisted blocks survived release")
  }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }

  /** Order-independent fingerprint of a (image_id, cluster_id) table. */
  def fingerprint(df: DataFrame, key: String): (Long, Long) = {
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(col(key), col("cluster_id")))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) throw new IllegalStateException(s"non-finite metric $d") else d.toString
  def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
