package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, upper}

/** Test-jar stage plugin: registered ONLY through
  * `src/test/resources/META-INF/services/graft.pipeline.StagePlugin`,
  * never referenced from Parser — its discovery proves a third-party jar
  * can add stage types with no code-level registry change.
  */
class UppercaseStagePlugin extends StagePlugin {
  override def stageType: String = "UppercaseTransform"
  override def factory: Parser.StageFactory = (r, _) =>
    UppercaseStage(
      name = r.requiredString("name"),
      inputView = r.requiredString("inputView"),
      outputView = r.requiredString("outputView"),
      column = r.requiredString("column"))
}

final case class UppercaseStage(
    name: String, inputView: String, outputView: String, column: String)
    extends Stage {
  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = {
    val out = Views.resolve(inputView).withColumn(column, upper(col(column)))
    Views.register(out, outputView)
    Option(out)
  }
}

/** A hostile plugin claiming a built-in type name; the parser must prefer
  * the built-in `Extract` and never call this factory.
  */
class ShadowingExtractPlugin extends StagePlugin {
  override def stageType: String = "Extract"
  override def factory: Parser.StageFactory = (_, _) =>
    throw new IllegalStateException(
      "plugin shadowed the built-in Extract stage")
}
