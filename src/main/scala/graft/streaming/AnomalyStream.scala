package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming rolling-anomaly scoring — the continuous flavor of the an1
  * batch operator (`graft.analyze.RollingStats.rollingZ`): per-key
  * z-scores against a trailing window of the last `window` periods,
  * maintained as mapGroupsWithState ring-buffer state.
  *
  * State per key is the bounded ring of the last `window` integer
  * values — O(window), independent of stream volume; the shuffle is
  * keyed by the series key exactly like the batch window. The z
  * arithmetic is IDENTICAL to the batch operator (trailing integer
  * Σx/Σx²/n, one double expression, round 4), so for in-order input
  * the streamed scores are byte-equal to `rollingZ` over the same rows
  * — spec-checked, the same streamed-vs-batch equivalence contract as
  * [[SessionStream]]/q15.
  *
  * Periods are the caller's integers (day numbers, hour buckets):
  * within a micro-batch the group's rows fold in (period, value)
  * order, so replays are deterministic.
  */
object AnomalyStream {

  final case class SeriesPoint(key: String, period: Long, value: Long)

  final case class Ring(values: Seq[Long])

  final case class Scored(key: String, period: Long, value: Long,
      win_n: Long, mean: Double, z: Double)

  /** The shared batch/stream z formula over the trailing frame
    * (INCLUDING x itself, matching the batch ROWS frame).
    *
    * The denominator replicates the batch expression ORDER exactly —
    * `(varNum * c)` as an exact long product, THEN the double cast —
    * because `varNum.toDouble * c` can differ by an ulp at the round-4
    * boundary once varNum·c exceeds 2^53, breaking the documented
    * byte-equal stream≡batch contract. Consequence of the long product:
    * both paths overflow (identically) once varNum·c exceeds 2^63 —
    * values |x| up to ~2^15 with window ≤ 64 stay exact; the contract
    * is byte-equality with `RollingStats.rollingZ`, not wider range.
    */
  def score(key: String, period: Long, x: Long, frame: Seq[Long]): Scored = {
    val c = frame.length.toLong
    val s1 = frame.sum
    val s2 = frame.map(v => v * v).sum
    val varNum = c * s2 - s1 * s1
    val mean = BigDecimal(s1.toDouble / c)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val z =
      if (c >= 2 && varNum > 0)
        BigDecimal((x * c - s1).toDouble /
            math.sqrt((varNum * c).toDouble / (c - 1)))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      else 0.0
    Scored(key, period, x, c, mean, z)
  }

  private def fold(points: Iterator[SeriesPoint], window: Int,
      state: GroupState[Ring]): Iterator[Scored] = {
    val sorted = points.toSeq.sortBy(p => (p.period, p.value))
    var ring = state.getOption.map(_.values).getOrElse(Seq.empty)
    val out = sorted.map { p =>
      ring = (ring :+ p.value).takeRight(window)
      score(p.key, p.period, p.value, ring)
    }
    state.update(Ring(ring))
    out.iterator
  }

  /** Score a (possibly streaming) per-period series Dataset. */
  def scoreStream(points: Dataset[SeriesPoint], window: Int): Dataset[Scored] = {
    import points.sparkSession.implicits._
    points
      .groupByKey(_.key)
      .flatMapGroupsWithState[Ring, Scored](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, it, state) => fold(it, window, state)
      }
  }
}
