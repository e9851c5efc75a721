package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pipeline.{StageCheckpoint, StageStore}

/** An ephemeral store like `ImageDedupPipeline.runDirect`'s, except that
  * every stage is materialized (eager localCheckpoint) inside a span named
  * after it, so the span holds that stage's work and its row count is
  * known; `rows` collects the counts by stage name. */
final class TracedDirectStore(tr: Tracer) extends StageStore {
  val rows = mutable.Map.empty[String, Long].withDefaultValue(0L)

  def stage(name: String)(compute: => DataFrame): DataFrame = tr.span(name) {
    val df = compute.localCheckpoint(eager = true)
    rows(name) += df.count()
    df
  }
}

/** A timing wrapper around the real durable [[StageCheckpoint]]. Whether a
  * call is served from the store or computed is decided by `isDone` before
  * the call; bytes written are the growth of the stage's directories. */
final class TimedStore(tr: Tracer, spark: SparkSession, base: String) extends StageStore {
  private val inner = new StageCheckpoint(spark, base)
  var served, computed = 0L
  var bytesWritten = 0L
  /** Span ids of computed stage calls (their self time is write time). */
  val computedSpans = mutable.ArrayBuffer.empty[Int]
  private var depth = 0 // directory growth is measured at the outermost call only

  override def isDone(name: String): Boolean = inner.isDone(name)
  override def isBucketed(name: String): Boolean = inner.isBucketed(name)
  override def dropStage(name: String): Unit = inner.dropStage(name)

  def stage(name: String)(compute: => DataFrame): DataFrame =
    if (inner.isDone(name)) { served += 1; inner.stage(name)(compute) }
    else tr.span(name) {
      computed += 1
      computedSpans += tr.spans.last.id
      val before = if (depth == 0) TimedStore.dirBytes(Paths.get(base)) else 0L
      depth += 1
      val out = try inner.stage(name)(compute) finally depth -= 1
      if (depth == 0) bytesWritten += TimedStore.dirBytes(Paths.get(base)) - before
      out
    }
}

object TimedStore {
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}
