package graft

import org.apache.spark.sql.SparkSession

/** The one way an operator scopes a session conf to its own work.
  *
  * A key must leave the session as it found it. Restoring through
  * `conf.getOption` does not: for a key Spark registers, `getOption`
  * returns the DEFAULT when nothing was set, so a save/restore built on
  * it re-sets that default explicitly and the key shows up in
  * `conf.getAll` for the rest of the session (`SessionConfSpec`). The
  * prior state is therefore read from `conf.getAll`, which lists only
  * explicit settings: a key that had an explicit value gets it back, a
  * key that had none is unset.
  *
  * Only work that runs INSIDE `body` sees the scoped values. A frame
  * returned lazily from `body` executes later under the restored conf,
  * so a call site that depends on the scope materialises its result
  * inside it (eager checkpoint, collect, a finished stream or write).
  */
object SessionConf {
  val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** Run `body` with every `key -> value` set, then restore each key's
    * prior explicit value, or unset it if it had none. */
  def withConf[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val explicit = s.conf.getAll
    val prior = kvs.map { case (k, _) => k -> explicit.get(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prior.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** `body` with the shuffle partition count lowered to at most `n`; a
    * session already below `n` keeps its own count (raising it would
    * only add near-empty tasks). */
  def withShufflePartitionsAtMost[T](s: SparkSession, n: Int)(body: => T): T =
    withConf(s, ShufflePartitions ->
      math.min(n, s.conf.get(ShufflePartitions).toInt).toString)(body)
}
