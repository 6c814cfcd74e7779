package graft.util

import org.apache.spark.sql.SparkSession

/** Scoped AQE control for iterative fixpoint loops.
  *
  * Adaptive execution re-optimizes at EVERY exchange: each shuffle
  * becomes its own query stage — submitted, materialized, re-planned —
  * before the next stage may start. Inside a fixpoint loop (min-label
  * propagation, peels, rank pulls) that re-planning buys nothing: the
  * per-round state is a node-keyed table of KNOWN bounded shape, the
  * round's plan is a fixed key-join + map-side-combined aggregate the
  * static planner already handles, and every generation is materialized
  * through a checkpoint anyway — so AQE only inserts per-round stage
  * barriers and re-optimization latency, multiplied by rounds × stages.
  * Measured on the round-19 bench (sf0.1, local[32]): the
  * connected-components fixpoint over a 5k-edge graph ran 39.3 s with
  * AQE on vs 11.2 s off — identical results, identical plan shapes per
  * round (the same precedent as Spark's own MicroBatchExecution, which
  * force-disables AQE in stateful streaming).
  *
  * [[withoutAqe]] disables AQE for the duration of `body` and restores
  * the previous value after (nesting-safe: the inner restore re-installs
  * the outer scope's "false"). The loop's INTERNAL actions (checkpoints,
  * convergence probes) run without AQE; the DataFrame an operator
  * returns executes under the caller's own configuration as usual.
  *
  * Scale knob: `spark.graft.fixpoint.aqe=true` re-enables AQE inside
  * the loops for deployments whose per-round label tables are large
  * enough that runtime coalescing / skew splitting outweighs the
  * per-round re-planning latency (the 100 TB regime) — the local
  * default favors round latency, which is what bounds the fixpoint.
  *
  * CONCURRENCY CONTRACT: `spark.conf` is SESSION-global, not
  * thread-local, so while any fixpoint scope is open every OTHER query
  * submitted on the same session also plans without AQE. Scopes
  * themselves are safe to overlap (the restore is reference-counted
  * per session below — the last scope out re-installs the value the
  * first scope in saw, so concurrent fixpoints can no longer clobber
  * each other's `prev`), but a host that multiplexes AQE-sensitive
  * OLAP queries and fixpoint operators on one session concurrently
  * should give the fixpoints their own session (`newSession()` shares
  * the SparkContext and catalog but has independent conf) or set
  * `spark.graft.fixpoint.aqe=true`. Bench/Verify are single-threaded
  * and unaffected.
  */
object Fixpoint {

  private val AqeKey = "spark.sql.adaptive.enabled"
  private val KeepKey = "spark.graft.fixpoint.aqe"

  /** Per-(session, key) open-scope bookkeeping: a stack of scope tokens
    * with their target values plus the pre-scope original. The LAST
    * scope out restores the original; a non-final exit re-installs the
    * remaining top scope's target, so overlapping scopes (nested on one
    * thread or concurrent across threads) never clobber the value the
    * first scope in saw; a key that was unset before is unset again.
    * Sessions compare by identity (SparkSession does not override equals).
    */
  private final class ConfScopes(val original: Option[String]) {
    val stack = scala.collection.mutable.ArrayBuffer.empty[AnyRef]
    val values = new java.util.IdentityHashMap[AnyRef, String]()
  }
  private val open =
    scala.collection.mutable.HashMap.empty[(SparkSession, String), ConfScopes]

  /** Run `body` with session conf `key` set to `value`, restoring the
    * pre-scope value afterwards (overlap-safe, see [[ConfScopes]]).
    * The conf is SESSION-global while the scope is open — see the
    * concurrency contract above.
    */
  def withConf[T](spark: SparkSession, key: String, value: String)(
      body: => T): T = {
    val token = new Object
    open.synchronized {
      val sc = open.getOrElseUpdate((spark, key),
        new ConfScopes(spark.conf.getOption(key)))
      sc.stack += token
      sc.values.put(token, value)
      spark.conf.set(key, value)
    }
    try body finally open.synchronized {
      val sc = open((spark, key))
      sc.stack -= token
      sc.values.remove(token)
      if (sc.stack.isEmpty) {
        open.remove((spark, key))
        sc.original match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      } else spark.conf.set(key, sc.values.get(sc.stack.last))
    }
  }

  def withoutAqe[T](spark: SparkSession)(body: => T): T = {
    val keep = spark.conf.get(KeepKey, "false").equalsIgnoreCase("true")
    val already = open.synchronized {
      !open.contains((spark, AqeKey)) &&
        spark.conf.get(AqeKey, "true").equalsIgnoreCase("false")
    }
    if (keep || already) body // off globally; nothing to scope
    else withConf(spark, AqeKey, "false")(body)
  }

  /** Shuffle partition count for a fixpoint whose per-round state is
    * `rows` rows: enough partitions to keep each under
    * `spark.graft.fixpoint.rowsPerPartition` (default 65536), clamped
    * to the session's configured `spark.sql.shuffle.partitions` so a
    * big deployment never loses parallelism — the LOCAL pathology this
    * fights is the reverse: tens of scheduler-overhead-bound tasks per
    * exchange for a table of a few thousand rows, multiplied by
    * rounds × exchanges-per-round.
    */
  def loopPartitions(spark: SparkSession, rows: Long): Int = {
    val per = spark.conf
      .get("spark.graft.fixpoint.rowsPerPartition", "65536").toLong
    val session = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    math.max(1L, math.min(session.toLong,
      (rows + per - 1) / math.max(1L, per))).toInt
  }

  /** Scope `spark.sql.shuffle.partitions` to [[loopPartitions]] for an
    * iterative loop over `rows`-sized state.
    */
  def withLoopPartitions[T](spark: SparkSession, rows: Long)(
      body: => T): T =
    withConf(spark, "spark.sql.shuffle.partitions",
      loopPartitions(spark, rows).toString)(body)
}
