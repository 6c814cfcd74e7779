package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.streaming.OutputMode

import graft.connect.Connector
import graft.pipeline.{PipelineContext, Stage, Views}

/** Declarative streaming surface (round 19) — closes the one
  * DeclarativeParitySpec exception: the foreachBatch sinks were
  * gate-proven but a config-only user (the reference's entire
  * contract) could not declare them. Two stage types:
  *
  *  - [[StreamingExtractStage]] (`type = StreamingExtract`): registers
  *    a file-source STREAMING view over a parquet directory (schema
  *    pinned from one batch footer read; `maxFilesPerTrigger` sets the
  *    micro-batch granularity).
  *  - [[StreamingLoadStage]] (`type = StreamingLoad`): drives a
  *    streaming view into a sink via the existing foreachBatch paths —
  *    `method = load` (connector table, [[StreamingSink
  *    .foreachBatchLoad]]) or `method = ivf_append` (persisted IVF
  *    index maintenance, [[StreamingSink.foreachBatchIvfAppend]]).
  *
  * DRAIN SEMANTICS: the declarative runner is synchronous, so the load
  * stage processes ALL AVAILABLE input (every micro-batch the source
  * can form now), then stops — the pipeline completes and downstream
  * stages read the sink's final state. A resident deployment calls the
  * StreamingSink API directly and keeps the query handle; exactly-once
  * across runs comes from the checkpointed offsets either way (a rerun
  * of the same config resumes AFTER the drained offsets — new files
  * only, never a double-append).
  */
final case class StreamingExtractStage(
    name: String,
    inputDir: String,
    outputView: String,
    maxFilesPerTrigger: Int = 1)
    extends Stage {

  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = {
    require(maxFilesPerTrigger >= 1,
      s"maxFilesPerTrigger must be >= 1, got $maxFilesPerTrigger")
    detail += "inputDir" -> inputDir
    detail += "outputView" -> outputView
    val spark = ctx.spark
    // streaming file sources need a user schema: pin it from the batch
    // footer of the same directory (one metadata read, no data scan)
    val schema = spark.read.parquet(inputDir).schema
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(inputDir)
    Views.register(stream, outputView)
    Option(stream)
  }
}

final case class StreamingLoadStage(
    name: String,
    inputView: String,
    outputView: String,
    method: String,
    checkpointDir: String,
    connector: Option[Connector] = None,
    table: String = "",
    saveMode: SaveMode = SaveMode.Append,
    indexDir: String = "",
    // drift_append: frozen-bounds PSI monitor (reference view fits the
    // bounds; the output view carries the final PSI table)
    referenceView: String = "",
    valueCol: String = "value",
    nBins: Int = 10,
    storeDir: String = "",
    options: Map[String, String] = Map.empty)
    extends Stage {

  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = {
    val in = Views.resolve(inputView)
    detail += "inputView" -> inputView
    detail += "outputView" -> outputView
    detail += "method" -> method
    detail += "checkpointDir" -> checkpointDir
    // the inverse of the batch Load guard (reference skips streaming
    // inputs): this stage exists FOR them, and a batch view here means
    // the config wired the wrong stage type
    require(in.isStreaming,
      s"StreamingLoad '$name': input view '$inputView' is a batch " +
        "view — use the batch Load stage for batch inputs")
    val spark = ctx.spark
    val q = method match {
      case "load" =>
        val conn = connector.getOrElse(throw new IllegalArgumentException(
          "StreamingLoad method=load requires a connection"))
        require(table.nonEmpty, "StreamingLoad method=load requires table")
        detail += "table" -> table
        StreamingSink.foreachBatchLoad(in, conn, table, checkpointDir,
          saveMode, options, OutputMode.Append())
      case "ivf_append" =>
        require(indexDir.nonEmpty,
          "StreamingLoad method=ivf_append requires indexDir")
        detail += "indexDir" -> indexDir
        StreamingSink.foreachBatchIvfAppend(in, indexDir, checkpointDir)
      // frozen-bounds streaming PSI monitor: micro-batches append
      // nBins-row binned partials; the final PSI table becomes the
      // stage's output view
      case "drift_append" =>
        require(storeDir.nonEmpty,
          "StreamingLoad method=drift_append requires storeDir")
        require(referenceView.nonEmpty,
          "StreamingLoad method=drift_append requires referenceView")
        val refV = Views.resolve(referenceView)
        require(!refV.isStreaming,
          s"StreamingLoad '$name': referenceView must be a batch view")
        detail += "storeDir" -> storeDir
        val interior =
          graft.ops.Drift.psiInteriorBounds(refV, valueCol, nBins)
        StreamingSink.foreachBatchDriftAppend(in, valueCol, interior,
          nBins, storeDir, checkpointDir)
      case other =>
        throw new IllegalArgumentException(
          s"unknown streaming load method '$other'")
    }
    // bounded drain (see the file Scaladoc): run everything available,
    // then stop; progress counters become the stage's summary row
    try q.processAllAvailable() finally q.stop()
    val progress = q.recentProgress
    val nBatches = progress.count(_.numInputRows > 0).toLong
    val nRows = progress.map(_.numInputRows).sum
    detail += "batches" -> nBatches
    detail += "rows" -> nRows
    import spark.implicits._
    val out = method match {
      // the monitor's deliverable IS the final PSI table — replay the
      // accumulated store against the reference under the same bounds
      case "drift_append" =>
        val refV = Views.resolve(referenceView)
        graft.ops.Drift.psiFromBinStore(refV, valueCol,
          graft.ops.Drift.psiInteriorBounds(refV, valueCol, nBins),
          spark.read.parquet(storeDir), nBins)
      case _ => Seq((nBatches, nRows)).toDF("n_batches", "n_rows")
    }
    Views.register(out, outputView)
    Option(out)
  }
}
