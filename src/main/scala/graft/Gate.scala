package graft

import org.apache.spark.sql.SparkSession

/** The one size gate: every physical pick between a small-input path
  * and a large-input path goes through [[large]], so every pick reads
  * the same key, follows the same boundary rule and leaves the same
  * trace.
  *
  *  - Boundary: the large path runs iff `probe >= threshold`, so a
  *    threshold is the smallest probed value that takes the large path.
  *  - Forcing: the session key `spark.graft.gate` (`small` | `large`)
  *    pins every gate of the session to one side without running the
  *    probe; unset, the probe decides. Any other value is a
  *    [[Gate.BadValue]]. No query crosses two different gates, so one
  *    key serves every spec and every A/B (SparkConf also reads it
  *    from `-Dspark.graft.gate=...`).
  *  - Trace: each decision writes one line on the `graft.queries`
  *    logger (the [[GraftQueryLogger]] sink):
  *    `gate=<name> probe=<v> threshold=<t> path=small|large forced=<bool>`,
  *    with `probe=-` when a forced value skipped the probe.
  */
object Gate {
  val Key = "spark.graft.gate"

  final class BadValue(v: String) extends IllegalArgumentException(
    s"$Key must be 'small' or 'large', got '$v'")

  private val log =
    org.apache.logging.log4j.LogManager.getLogger("graft.queries")

  /** True iff gate `name` takes its large path in session `s`. */
  def large(s: SparkSession, name: String, probe: => Double,
            threshold: Double): Boolean =
    decide(s.conf.getOption(Key), name, probe, threshold)

  /** The decision itself, with the session key's value passed in. */
  private[graft] def decide(forced: Option[String], name: String,
                            probe: => Double, threshold: Double): Boolean = {
    val (probed, big) = forced match {
      case None          => val p = probe; (Some(p), p >= threshold)
      case Some("small") => (None, false)
      case Some("large") => (None, true)
      case Some(v)       => throw new BadValue(v)
    }
    log.info(s"gate=$name probe=${probed.map(num).getOrElse("-")} " +
      s"threshold=${num(threshold)} path=${if (big) "large" else "small"} " +
      s"forced=${probed.isEmpty}")
    big
  }

  // byte and edge counts print as integers, shares as decimals
  private def num(x: Double): String =
    if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else x.toString
}
