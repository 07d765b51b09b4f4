package graftbench

import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom

import graft.report.Dashboard

/** A seeded random stream. Each input family draws from its own stream, so
  * adding draws to one family leaves the others unchanged. */
final class Gen(seed: Long, stream: Long) {
  private val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)
  def uniform(): Double = r.nextDouble()
  def int(lo: Int, hiInclusive: Int): Int = lo + r.nextInt(hiInclusive - lo + 1)
  def shuffle[A](xs: Seq[A]): Seq[A] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[A]]
  }
  def pick[A](xs: IndexedSeq[A], k: Int): Seq[A] = shuffle(xs).take(k)
}

/** The seeded input generator. The engine only ever receives the values
  * these functions return; the seed itself never reaches it.
  *
  * Mixes are stratified rather than drawn independently, so that two seeds
  * get different inputs of the same overall cost: the share of empty report
  * days, the spread of dashboard range widths and the share of sessions
  * with IN-lists are fixed, while the dates, ranges and list members vary. */
object Inputs {

  val CycleHours = 3
  val JitterMinutes = 20

  /** Ends of the 3-hourly cycles `first until first + n` (1-based) after
    * `origin`, each moved by up to ±20 minutes when `g` is given. */
  def cycleEnds(origin: LocalDateTime, first: Int, n: Int, g: Option[Gen]): Seq[LocalDateTime] =
    (first until first + n).map { i =>
      val nominal = origin.plusHours(CycleHours.toLong * i)
      g.fold(nominal) { x =>
        nominal.plusSeconds(((x.uniform() * 2 - 1) * JitterMinutes * 60).toLong)
      }
    }

  /** Report dates in `[lo, hi]`; every eighth date (index 3 mod 8) lies
    * outside the data, which takes the report's empty-day branch. */
  def reportDates(g: Gen, lo: LocalDate, hi: LocalDate, n: Int): Seq[LocalDate] = {
    val days = hi.toEpochDay - lo.toEpochDay
    (0 until n).map { i =>
      if (i % 8 == 3) {
        if (g.uniform() < 0.5) lo.minusDays(g.int(1, 365).toLong)
        else hi.plusDays(g.int(1, 365).toLong)
      } else lo.plusDays((g.uniform() * (days + 1)).toLong.min(days))
    }
  }

  /** Dashboard filter changes. Range widths are log-uniform from 30 days
    * to the whole history: session i takes the middle of stratum i of n,
    * moved by up to a twentieth of a stratum. Sessions with index 0 mod 3
    * carry a supplier IN-list (3 to 40 names); sessions with an even index
    * carry a priority IN-list of two values, so every seed's sessions scan
    * the same share of the data. The narrowest range is thus a sliver and
    * the second one is unfiltered. */
  def dashboardFilters(g: Gen, lo: LocalDate, hi: LocalDate,
                       suppliers: IndexedSeq[String], priorities: IndexedSeq[String],
                       n: Int): Seq[Dashboard.Filters] = {
    val total = (hi.toEpochDay - lo.toEpochDay + 1).toDouble
    val minW = math.min(30.0, total)
    (0 until n).map { i =>
      val q = (i + 0.5 + 0.1 * (g.uniform() - 0.5)) / n
      val width = math.round(math.exp(math.log(minW) + (math.log(total) - math.log(minW)) * q))
        .max(1L).min(total.toLong)
      val start = lo.plusDays((g.uniform() * (total - width + 1)).toLong.min(total.toLong - width))
      val sup = if (i % 3 == 0) Some(g.pick(suppliers, g.int(3, 40)).sorted) else None
      val pri = if (i % 2 == 0) Some(g.pick(priorities, 2).sorted) else None
      Dashboard.Filters(start, start.plusDays(width - 1), sup, pri)
    }
  }
}
