package perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SaveMode}

import graft.connect.Connector
import graft.pipeline.PipelineContext

/** Spark work folded per pipeline stage ("bucket"), measured from outside
  * the engine. A job belongs to the stage whose name the benchmark put in
  * the job description before calling the stage; a job started on a thread
  * that did not inherit the description falls back to the stage whose
  * wall-clock window contains the job's submission time.
  */
final class LayerListener extends SparkListener {
  final class Bucket {
    var jobs = 0L
    var tasks = 0L
    var executorMs = 0L
    var cpuNs = 0L
    var shuffleWriteBytes = 0L
    var shuffleReadBytes = 0L
    var inputBytes = 0L
    var spillBytes = 0L
    var recordsWritten = 0L
    val jobWallMs = mutable.ArrayBuffer.empty[Long]
  }

  val Prefix = "perfbench:"
  private val Sentinel = Prefix + "sentinel"
  private val buckets = mutable.LinkedHashMap.empty[String, Bucket]
  private val stageBucket = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]
  private val windows = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val blockBytes = mutable.Map.empty[String, Long]
  private var storageBytes = 0L
  private var peakStorage = 0L
  private val sentinelJobs = mutable.Set.empty[Int]
  private var sentinelsSeen = 0L

  /** Starts a new traced pass: forgets everything but live cached blocks. */
  def reset(): Unit = synchronized {
    buckets.clear(); stageBucket.clear(); jobStart.clear(); windows.clear()
    peakStorage = storageBytes
  }

  /** Records that stage `name` ran from `startMs` to `endMs`. */
  def window(name: String, startMs: Long, endMs: Long): Unit =
    synchronized { windows += ((name, startMs, endMs)) }

  private def bucketOf(desc: Option[String], time: Long): String =
    desc.filter(_.startsWith(Prefix)).map(_.stripPrefix(Prefix))
      .orElse(windows.find { case (_, s, e) => time >= s && time <= e }.map(_._1))
      .getOrElse("unattributed")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.job.description")))
    if (desc.contains(Sentinel)) sentinelJobs += e.jobId
    else {
      val b = bucketOf(desc, e.time)
      buckets.getOrElseUpdate(b, new Bucket).jobs += 1
      jobStart(e.jobId) = (b, e.time)
      e.stageIds.foreach(s => if (!stageBucket.contains(s)) stageBucket(s) = b)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (sentinelJobs.remove(e.jobId)) sentinelsSeen += 1
    else jobStart.remove(e.jobId).foreach { case (b, t0) =>
      buckets(b).jobWallMs += e.time - t0
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageBucket.get(e.stageId).filter(_ => m != null).foreach { name =>
      val b = buckets(name)
      b.tasks += 1
      b.executorMs += m.executorRunTime
      b.cpuNs += m.executorCpuTime
      b.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      b.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      b.inputBytes += m.inputMetrics.bytesRead
      b.spillBytes += m.diskBytesSpilled
      b.recordsWritten += m.outputMetrics.recordsWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name + "@" + info.blockManagerId.executorId
      val now = info.memSize + info.diskSize
      storageBytes += now - blockBytes.getOrElse(key, 0L)
      if (now == 0) blockBytes.remove(key) else blockBytes(key) = now
      peakStorage = math.max(peakStorage, storageBytes)
    }
  }

  /** Blocks until every event posted before this call has been delivered:
    * a marker job's end event arrives after all earlier events, because
    * one listener queue delivers in order.
    */
  def drain(sc: SparkContext): Unit = {
    val before = synchronized(sentinelsSeen)
    sc.setJobDescription(Sentinel)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (synchronized(sentinelsSeen) == before && System.nanoTime() < deadline)
      Thread.sleep(5)
  }

  def snapshot: (Map[String, Bucket], Long) =
    synchronized((buckets.toMap, peakStorage))
}

/** Call counts and times of one connector's public operations. */
final class ConnectorStats {
  private val calls = new ConcurrentHashMap[String, java.lang.Long]()
  private val nanos = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile var filesWritten = 0L

  def timed[T](op: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally {
      calls.merge(op, 1L, (a, b) => a + b)
      nanos.merge(op, System.nanoTime() - t0, (a, b) => a + b)
    }
  }

  def count(op: String): Long = Option(calls.get(op)).map(_.longValue).getOrElse(0L)
  def seconds(op: String): Double =
    Option(nanos.get(op)).map(_.longValue / 1e9).getOrElse(0.0)
  def reset(): Unit = { calls.clear(); nanos.clear(); filesWritten = 0 }
}

/** A [[Connector]] decorator that times every call into the wrapped one.
  * After a write it counts the data files under `<baseDir>/<table>.parquet`,
  * the layout of `graft.connect.ParquetConnector`.
  */
final class TimingConnector(inner: Connector, baseDir: String, stats: ConnectorStats)
    extends Connector {
  override def read(table: String, options: Map[String, String])(
      implicit ctx: PipelineContext): DataFrame =
    stats.timed("read")(inner.read(table, options))

  override def write(df: DataFrame, table: String, mode: SaveMode,
      options: Map[String, String])(implicit ctx: PipelineContext): Unit = {
    stats.timed("write")(inner.write(df, table, mode, options))
    stats.filesWritten += Files.list(new File(baseDir, s"$table.parquet"))
      .count(_.getName.endsWith(".parquet"))
  }

  override def execute(statement: String, params: Map[String, String])(
      implicit ctx: PipelineContext): Unit =
    stats.timed("execute")(inner.execute(statement, params))
}

object Files {
  /** Every regular file under `dir`, recursively. */
  def list(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap(f => if (f.isDirectory) list(f) else Seq(f))

  def read(f: File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), java.nio.charset.StandardCharsets.UTF_8)
}
