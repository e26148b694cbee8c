package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** What a workload sees of the benchmark: the session, the input and
  * output directories, the tracer and a per-operation counter store. */
final class Ctx(val spark: SparkSession, val in: String, val out: String,
                val tracer: Tracer, val probe: Probe) {

  private val counts = mutable.Map.empty[(Long, String), Long].withDefaultValue(0L)
  private val held = mutable.ArrayBuffer.empty[DataFrame]

  def table(name: String): DataFrame = spark.read.parquet(s"$in/$name.parquet")

  def currentOp: Long =
    Option(spark.sparkContext.getLocalProperty(Probe.OpKey)).map(_.toLong).getOrElse(-1L)

  /** Adds `n` to the named counter of the current operation. */
  def count(name: String, n: Long): Unit = counts((currentOp, name)) += n

  def counter(op: Long, name: String): Long = counts((op, name))

  /** A call into `layer` that returns no frame (an action such as a write). */
  def run[T](layer: String)(body: => T): T = tracer.layer(spark, layer)(body)

  /** A call into `layer` that returns a frame. In a traced operation the
    * frame is materialised at the layer boundary, so the span covers the
    * layer's execution and its row count is known; the frame stays cached
    * until the operation ends. */
  def out(layer: String)(body: => DataFrame): DataFrame =
    tracer.layer(spark, layer) {
      val df = body
      if (!tracer.enabled) df
      else {
        val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
        count(s"$layer.rows_out", cached.count())
        held += cached
        cached
      }
    }

  /** Runs `body` and, in a traced operation, returns the number of
    * checkpoint jobs it started (0 when tracing is off). */
  def ckptJobsDuring[T](body: => T): (T, Long) =
    if (!tracer.enabled) (body, 0L)
    else {
      val op = currentOp
      def jobs(): Long = {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        probe.layers(op).values.map(_.ckptJobs).sum
      }
      val before = jobs()
      val r = body
      (r, jobs() - before)
    }

  /** Records, in a traced operation, the bytes now under `dir`. */
  def wrote(dir: String): Unit = if (tracer.enabled) {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try count("io.written_bytes",
      files.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum)
    finally files.close()
  }

  /** Drops what a traced operation cached. */
  def endOp(): Unit = {
    held.foreach(_.unpersist(blocking = true))
    held.clear()
  }
}

/** A batch workload: inputs prepared once per set-up, then whole passes. */
trait Batch {
  def prepare(c: Ctx): Unit
  def pass(c: Ctx): Unit
}
