package graft.pipeline

import scala.collection.mutable

/** One config problem; all problems for a stage are reported together.
  * (ref: CassandraExtract.scala:22-63 — typed getters + error ACCUMULATION,
  * so a user sees every mistake in one pass, not one at a time.)
  */
final case class ConfigError(key: String, message: String) {
  override def toString = s"$key: $message"
}

/** Accumulating typed reader over a parsed config object.
  *
  * Usage: read every field (each read records errors instead of throwing),
  * then call `result(...)` — `Right(stage)` only if zero errors accumulated.
  * Every getter also records the key it was asked for, so the keys a
  * stage accepts are exactly the keys its factory reads
  * ([[rejectUnasked]]).
  */
final class ConfigReader(conf: Map[String, Any]) {
  private val errors = mutable.ListBuffer.empty[ConfigError]
  private val asked = mutable.Set.empty[String]

  def error(key: String, message: String): Unit =
    errors += ConfigError(key, message)

  /** Whether the config sets `key`; a presence test, not a read. */
  def has(key: String): Boolean = conf.contains(key)

  /** Reject every key no getter asked for (typo guard; ref:
    * checkValidKeys, CassandraExtract.scala:33). Call once the stage's
    * factory has read its config; `common` are keys valid on any stage.
    */
  def rejectUnasked(common: Set[String]): Unit = {
    val valid = (asked ++ common).toSeq.sorted
    (conf.keySet -- valid).toSeq.sorted.foreach { k =>
      error(k, s"unknown option; expected one of ${valid.mkString(", ")}")
    }
  }

  private def get[T](key: String, typeName: String)(pf: PartialFunction[Any, T]): Option[T] = {
    asked += key
    conf.get(key) match {
      case None => None
      case Some(v) =>
        pf.lift(v) match {
          case some @ Some(_) => some
          case None =>
            error(key, s"expected $typeName, got ${String.valueOf(v)}")
            None
        }
    }
  }

  def string(key: String): Option[String] =
    get(key, "string") { case s: String => s }

  def requiredString(key: String): String =
    string(key).getOrElse {
      if (!has(key)) error(key, "missing required option")
      ""
    }

  def int(key: String): Option[Int] =
    get(key, "integer") {
      case i: Int                         => i
      case l: Long if l.isValidInt        => l.toInt
      case b: BigInt if b.isValidInt      => b.toInt
    }

  /** Whole-number reader that keeps 64-bit range: token/byte budgets at
    * 100 TB scale routinely exceed Int.MaxValue (~2.1B), so they must not
    * funnel through `int`.
    */
  def long(key: String): Option[Long] =
    get(key, "integer") {
      case i: Int                     => i.toLong
      case l: Long                    => l
      case b: BigInt if b.isValidLong => b.toLong
    }

  def boolean(key: String): Option[Boolean] =
    get(key, "boolean") { case b: Boolean => b }

  def double(key: String): Option[Double] =
    get(key, "number") {
      case d: Double      => d
      case i: Int         => i.toDouble
      case l: Long        => l.toDouble
      case b: BigInt      => b.toDouble
      case b: BigDecimal  => b.toDouble
    }

  def list(key: String): Option[Seq[String]] =
    get(key, "list of strings") {
      case xs: Seq[_] if xs.forall(_.isInstanceOf[String]) =>
        xs.asInstanceOf[Seq[String]]
    }

  def stringList(key: String): Seq[String] = list(key).getOrElse(Nil)

  /** Enum-style validated string (ref: saveMode validValues,
    * CassandraLoad.scala:35); an invalid value is an error and reads as
    * absent.
    */
  def oneOf(key: String, valid: Seq[String]): Option[String] =
    string(key).filter { s =>
      valid.contains(s) || {
        error(key, s"invalid value '$s'; expected one of ${valid.mkString(", ")}")
        false
      }
    }

  /** Free-form string→string map passed through to the connector
    * (ref: params pass-through, CassandraExtract.scala:96).
    */
  def map(key: String): Option[Map[String, String]] =
    get(key, "object of strings") {
      case m: Map[_, _] =>
        m.map { case (k, v) => String.valueOf(k) -> String.valueOf(v) }
    }

  def stringMap(key: String): Map[String, String] = map(key).getOrElse(Map.empty)

  /** A map of named numbers (weights, rates); a value that is not a
    * number is an error naming its entry.
    */
  def numberMap(key: String): Option[Map[String, Double]] =
    map(key).map(_.map { case (k, v) =>
      k -> (try v.toDouble catch {
        case _: NumberFormatException =>
          error(key, s"value for '$k' is not a number: '$v'"); 0.0
      })
    })

  def result[T](value: => T): Either[List[ConfigError], T] =
    if (errors.isEmpty) Right(value) else Left(errors.toList)
}
