package graft.pipeline

import scala.reflect.runtime.{universe => ru}

/** Binds a stage's config to its case class, so the primary constructor is
  * the one declaration of the stage's options: each parameter is the
  * config key of the same name, its type picks the [[ConfigReader]] getter,
  * and an absent key takes the parameter's default. A parameter without a
  * default is required. A `method` or `analysis` parameter must be one of
  * [[Parser.methodEnums]] for the stage type (the class name without its
  * `Stage` suffix).
  *
  * The constructor is inspected once, when the factory is built; a
  * parameter of a type outside [[kinds]] fails then, not at parse time.
  */
object Binder {

  /** A config-readable parameter type: its getter, and the placeholder a
    * missing required value takes (the parse fails on it anyway).
    */
  private final case class Kind(
      tpe: ru.Type, read: (ConfigReader, String) => Option[Any], zero: Any)

  private def byKey[V](m: Map[String, V]): Seq[(String, V)] = m.toSeq.sortBy(_._1)

  private val kinds: Seq[Kind] = {
    import ru.typeOf
    val scalars = Seq(
      Kind(typeOf[String], _.string(_), ""),
      Kind(typeOf[Int], _.int(_), 0),
      Kind(typeOf[Long], _.long(_), 0L),
      Kind(typeOf[Double], _.double(_), 0.0),
      Kind(typeOf[Boolean], _.boolean(_), false))
    val options = scalars.map(k => Kind(
      ru.appliedType(typeOf[Option[Any]].typeConstructor, k.tpe),
      (r, key) => k.read(r, key).map(Some(_)), None))
    scalars ++ options ++ Seq(
      Kind(typeOf[Seq[String]], _.list(_), Nil),
      Kind(typeOf[Map[String, String]], _.map(_), Map.empty),
      Kind(typeOf[Map[String, Double]], _.numberMap(_), Map.empty),
      // pair lists are sorted by key: config maps carry no order, and
      // their consumers (rule report rows, weighted sums) must be
      // reproducible
      Kind(typeOf[Seq[(String, String)]], _.map(_).map(byKey), Nil),
      Kind(typeOf[Seq[(String, Double)]], _.numberMap(_).map(byKey), Nil))
  }

  private final case class Param(
      name: String, read: ConfigReader => Option[Any], default: Option[Any], zero: Any)

  /** The factory for stage `T`; `check` runs on the bound stage and adds
    * the cross-field rules a parameter type cannot express.
    */
  def bind[T <: Stage: ru.TypeTag](
      check: (ConfigReader, T) => Unit = (_: ConfigReader, _: T) => ()): Parser.StageFactory = {
    val mirror = ru.typeTag[T].mirror
    val sym = ru.typeOf[T].typeSymbol.asClass
    val cls = mirror.runtimeClass(sym)
    val stageType = cls.getSimpleName.stripSuffix("Stage")
    val companion = mirror.reflectModule(sym.companion.asModule).instance
    val params = sym.primaryConstructor.asMethod.paramLists.head.zipWithIndex.map {
      case (p, i) =>
        val name = p.name.decodedName.toString
        val kind = kinds.find(_.tpe =:= p.typeSignature).getOrElse(
          throw new IllegalArgumentException(
            s"$stageType.$name: no config getter for type ${p.typeSignature}"))
        val read: ConfigReader => Option[Any] =
          if (name == "method" || name == "analysis") {
            val valid = Parser.methodEnums.getOrElse(stageType,
              throw new IllegalArgumentException(s"$stageType.$name: no methodEnums entry"))
            _.oneOf(name, valid)
          } else kind.read(_, name)
        val default =
          if (!p.asTerm.isParamWithDefault) None
          else Some(companion.getClass
            .getMethod("$lessinit$greater$default$" + (i + 1)).invoke(companion))
        Param(name, read, default, kind.zero)
    }
    val ctor = cls.getConstructors.head
    require(ctor.getParameterCount == params.size,
      s"$stageType: constructor arity ${ctor.getParameterCount} != ${params.size}")
    (r, _) => {
      val args = params.map { p =>
        p.read(r).orElse(p.default).getOrElse {
          if (!r.has(p.name)) r.error(p.name, "missing required option")
          p.zero
        }
      }
      val stage = ctor.newInstance(args.map(_.asInstanceOf[AnyRef]): _*).asInstanceOf[T]
      check(r, stage)
      stage
    }
  }
}
