package graft.pipeline

/** SPI for classpath-discovered pipeline stages.
  *
  * The reference registers its stages through Java ServiceLoader
  * (ref: META-INF/services/ai.tripl.arc.plugins.PipelineStagePlugin:1-3 —
  * the jar drops in and its stage types become parseable with no code
  * change). This is the same mechanism for this engine: a third-party jar
  * lists implementations of this trait under
  * `META-INF/services/graft.pipeline.StagePlugin`, and [[Parser.parse]]
  * resolves their `stageType`s alongside the built-ins.
  *
  * Built-ins win on a type-name collision — [[Parser.defaultRegistry]] is
  * the contract; a plugin cannot silently replace `Extract`.
  *
  * Plugin stages get the same unknown-key check as the built-ins: a key
  * the factory does not read through its [[ConfigReader]] (beyond
  * `type`/`name`/`environments`/`connection`) is a config error.
  * [[Binder.bind]] builds a factory that reads every constructor parameter.
  */
trait StagePlugin {

  /** The config `type` discriminator this plugin handles. */
  def stageType: String

  /** Builds the stage from its validated config. */
  def factory: Parser.StageFactory
}
