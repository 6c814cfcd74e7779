package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.connect.{Connector, ParquetConnector}
import graft.pipeline._

/** The benchmark's JVM side. It runs one workload's pipeline the way a user
  * does (config text -> `Parser.parse` -> `Runner.run`) and prints its
  * measurements as one `RESULT {json}` line; `run.py` drives it.
  *
  *   probe                                       set up, print READY, exit
  *   run <workload> <repoRoot> <inputDir> <workDir> <seconds> <trace 0|1>
  *
  * `run` prints READY once the session and connectors are ready, times a
  * cold first pass, warms up, then runs as many measured passes as take
  * about `seconds` (see [[Workload.passSeconds]]).
  * With trace 1 it alternates untraced and traced passes; a traced pass
  * runs each stage through `Runner.run` on a one-stage pipeline and
  * attributes Spark work to it, and the connectors are wrapped in
  * [[TimingConnector]].
  */
object Main {
  val Cores = 4
  val MinWarm = 1 // fewest measured passes (of each kind, with trace) in a run

  def session(workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    exitWithParent()
    dispatch(args)
  }

  /** `run.py` holds this JVM's stdin open; end of input means it is gone,
    * so the JVM stops rather than outlive it.
    */
  private def exitWithParent(): Unit = {
    val t = new Thread(() => {
      while (System.in.read() != -1) {}
      Runtime.getRuntime.halt(3)
    })
    t.setDaemon(true)
    t.start()
  }

  private def dispatch(args: Array[String]): Unit = args.toList match {
    case "probe" :: workDir :: Nil =>
      session(workDir)
      connectors("in", "out", None)
      println("READY")
      System.out.flush()
      Runtime.getRuntime.halt(0) // the probe measures set-up only
    case "run" :: workload :: repoRoot :: inputDir :: workDir :: seconds :: trace :: Nil =>
      val result = run(workload, repoRoot, inputDir, workDir, seconds.toDouble, trace == "1")
      println("RESULT " + Json(result))
      System.out.flush()
      Runtime.getRuntime.halt(0) // skip a shutdown whose length is not measured
    case _ =>
      System.err.println("usage: Main probe <workDir> | Main run <workload> <repoRoot> " +
        "<inputDir> <workDir> <seconds> <trace 0|1>")
      sys.exit(2)
  }

  private def connectors(inputDir: String, sinkDir: String,
      stats: Option[ConnectorStats]): Map[String, Connector] = {
    def wrap(c: Connector, dir: String) = stats.fold(c)(new TimingConnector(c, dir, _))
    Map("source" -> wrap(new ParquetConnector(inputDir), inputDir),
      "sink" -> wrap(new ParquetConnector(sinkDir), sinkDir))
  }

  private def parse(conf: String, conns: Map[String, Connector]): Pipeline =
    Parser.parse(conf, conns) match {
      case Right(p) => p
      case Left(errs) => throw new IllegalArgumentException(errs.mkString("; "))
    }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def run(name: String, repoRoot: String, inputDir: String, workDir: String,
      seconds: Double, trace: Boolean): Map[String, Any] = {
    val spark = session(workDir)
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val sinkDir = s"$workDir/sink"
    val w = Workload(name, repoRoot, inputDir, sinkDir)
    val plain = connectors(inputDir, sinkDir, None)
    val stats = new ConnectorStats
    val timed = connectors(inputDir, sinkDir, Some(stats))
    val listener = new LayerListener
    println("READY")
    System.out.flush()

    /** Drops what a pass persisted, so no pass reads another's caches. */
    def freeCaches(): Unit = {
      graft.util.Caches.unpersistAll()
      spark.catalog.clearCache()
    }
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    /** Runs `pass`, checks the output, frees the pass's caches; returns the
      * pass's seconds, or None when it threw or its output was wrong.
      */
    def attempt(check: => Option[String])(pass: => Double): Option[Double] = {
      attempted += 1
      val outcome =
        try {
          val s = pass
          check.map(e => Left(e)).getOrElse(Right(s))
        } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      freeCaches()
      outcome.left.foreach(e => errors += e)
      outcome.toOption
    }
    def untraced(): Double = {
      val t0 = System.nanoTime()
      Runner.run(parse(w.config, plain))
      secondsSince(t0)
    }

    val first = attempt(w.fullCheck(spark))(untraced())
    // Warm-up: JIT compilation keeps shortening the passes after the cold
    // one, so the check's preparation and a fixed number of unmeasured
    // passes run first. A fixed count, not a time, so every run measures
    // the same passes however fast the host is.
    w.prepare(spark)
    freeCaches()
    for (_ <- 1 to w.warmupPasses) attempt(w.check(spark))(untraced())

    val warm = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Map[String, Double]]
    var rows = Map.empty[String, Long]
    if (trace) spark.sparkContext.addSparkListener(listener)
    // A pass count fixed by `seconds` rather than a deadline: every run
    // then takes its median over the same passes, where a deadline gave a
    // slow host fewer, earlier and so slower passes.
    val rounds = math.max(MinWarm,
      math.round(seconds / w.passSeconds / (if (trace) 2 else 1)).toInt)
    for (_ <- 1 to rounds) {
      attempt(w.check(spark))(untraced()).foreach(warm += _)
      if (trace)
        attempt(w.check(spark)) {
          val layers = tracedPass(w, timed, stats, listener)
          if (rows.isEmpty) rows = viewRows(w.config)
          traced += layers
          layers("trace.pipeline_s")
        }
    }

    Map(
      "attempted" -> attempted,
      "failed" -> errors.size,
      "errors" -> errors.take(5).toSeq,
      "first_pass_s" -> first.getOrElse(-1.0),
      "warm_pass_s" -> warm.toSeq,
      "peak_rss_kb" -> peakRssKb,
      "layers" -> (medians(traced.toSeq) ++ rows.map { case (v, n) => s"ops.rows.$v" -> n.toDouble } ++
        (if (trace) Map("trace.overhead_s" -> (median(traced.map(_("trace.pipeline_s")).toSeq) -
          median(warm.toSeq))) else Map.empty))
    )
  }

  /** One pass with every layer boundary timed from outside; returns the
    * pass's per-layer metrics.
    */
  private def tracedPass(w: Workload, conns: Map[String, Connector], stats: ConnectorStats,
      listener: LayerListener)(implicit ctx: PipelineContext): Map[String, Double] = {
    val sc = ctx.spark.sparkContext
    listener.drain(sc)
    listener.reset()
    stats.reset()
    val gc0 = gcMillis
    val t0 = System.nanoTime()
    val pipeline = parse(w.config, conns)
    val parseS = secondsSince(t0)
    val stageS = mutable.LinkedHashMap.empty[String, Double]
    for (sd <- pipeline.stages if sd.enabledIn(ctx.environment)) {
      val name = sd.stage.name
      sc.setJobDescription(listener.Prefix + name)
      val (ms0, ts) = (System.currentTimeMillis(), System.nanoTime())
      try Runner.run(Pipeline(Seq(sd)))
      finally {
        stageS(name) = secondsSince(ts)
        listener.window(name, ms0, System.currentTimeMillis())
        sc.setJobDescription(null)
      }
    }
    val wall = secondsSince(t0)
    val gcS = (gcMillis - gc0) / 1e3
    listener.drain(sc)
    val (buckets, peakStorage) = listener.snapshot
    val all = buckets.values
    val jobWalls = all.flatMap(_.jobWallMs).map(_ / 1e3).toSeq
    val fix = buckets.filter { case (k, _) => w.fixpointStages(k) }.values
    val cpuCap = wall * Cores

    val perStage = stageS.toSeq.flatMap { case (name, s) =>
      val key = s"pipeline.stage.${metricName(name)}"
      val b = buckets.get(name)
      def sum(f: listener.Bucket => Double) = b.map(f).getOrElse(0.0)
      Seq(
        s"$key.run_s" -> s,
        s"$key.jobs" -> sum(_.jobs.toDouble),
        s"$key.tasks" -> sum(_.tasks.toDouble),
        s"$key.executor_s" -> sum(_.executorMs / 1e3),
        s"$key.cpu_s" -> sum(_.cpuNs / 1e9),
        s"$key.shuffle_write_bytes" -> sum(_.shuffleWriteBytes.toDouble),
        s"$key.input_bytes" -> sum(_.inputBytes.toDouble),
        s"$key.spill_bytes" -> sum(_.spillBytes.toDouble))
    }
    Map(
      "trace.pipeline_s" -> wall,
      "pipeline.parse_s" -> parseS,
      "connect.read_calls" -> stats.count("read").toDouble,
      "connect.read_s" -> stats.seconds("read"),
      "connect.write_calls" -> stats.count("write").toDouble,
      "connect.write_s" -> stats.seconds("write"),
      "connect.execute_calls" -> stats.count("execute").toDouble,
      "connect.execute_s" -> stats.seconds("execute"),
      "connect.rows_written" -> all.map(_.recordsWritten).sum.toDouble,
      "connect.files_written" -> stats.filesWritten.toDouble,
      "spark.jobs" -> all.map(_.jobs).sum.toDouble,
      "spark.tasks" -> all.map(_.tasks).sum.toDouble,
      "spark.busy_fraction" -> all.map(_.executorMs).sum / 1e3 / cpuCap,
      "spark.cpu_fraction" -> all.map(_.cpuNs).sum / 1e9 / cpuCap,
      "spark.gc_s" -> gcS,
      "spark.shuffle_write_bytes" -> all.map(_.shuffleWriteBytes).sum.toDouble,
      "spark.shuffle_read_bytes" -> all.map(_.shuffleReadBytes).sum.toDouble,
      "spark.spill_bytes" -> all.map(_.spillBytes).sum.toDouble,
      "spark.job_wall_s.median" -> median(jobWalls),
      "spark.unattributed_jobs" -> buckets.get("unattributed").map(_.jobs.toDouble).getOrElse(0.0),
      "fixpoint.jobs" -> fix.map(_.jobs).sum.toDouble,
      "fixpoint.job_wall_s.median" -> median(fix.flatMap(_.jobWallMs).map(_ / 1e3).toSeq),
      "caches.peak_storage_bytes" -> peakStorage.toDouble
    ) ++ perStage
  }

  /** Rows in every stage output view of `config`, counted outside any
    * timed region.
    */
  private def viewRows(config: String)(implicit ctx: PipelineContext): Map[String, Long] = {
    val stages = Hocon.parse(config).toOption.flatMap(_.root.get("stages")) match {
      case Some(xs: List[_]) => xs.collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
      case _ => Nil
    }
    stages.flatMap(_.get("outputView")).map(_.toString).distinct
      .map(v => v -> ctx.spark.table(v).count()).toMap
  }

  def metricName(stage: String): String =
    stage.toLowerCase.replaceAll("[^a-z0-9]+", "_").stripPrefix("_").stripSuffix("_")

  private def medians(passes: Seq[Map[String, Double]]): Map[String, Double] =
    passes.flatMap(_.keys).distinct.map(k => k -> median(passes.flatMap(_.get(k)))).toMap

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def peakRssKb: Long =
    Files.read(new File("/proc/self/status")).split("\n")
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
}

/** Minimal JSON rendering of maps, sequences, numbers and strings. */
object Json {
  def apply(v: Any): String = v match {
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${apply(k.toString)}:${apply(x)}" }.sorted.mkString("{", ",", "}")
    case s: Seq[_] => s.map(apply).mkString("[", ",", "]")
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case null => "null"
    case other => apply(other.toString)
  }
}
