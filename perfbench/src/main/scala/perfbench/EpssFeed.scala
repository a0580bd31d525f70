package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

import scala.collection.mutable.ArrayBuffer

/** Size of a generated EPSS feed: CVEs `0 until live(d)` are published on
  * day `d` (the set only grows). */
final case class FeedSpec(seed: Long, initialCves: Int, newPerDay: Int)

/** One row of a served result, scores in integer units of 1e-5 (the feed's
  * published precision), so comparisons and hashes are exact.
  */
final case class ScoreRow(date: String, cve: String, epss: Int, pct: Int) {
  def key: String = s"$date|$cve|$epss|$pct"
}

/** Seeded generator of daily EPSS feed files plus their ground truth.
  *
  * Scores are piecewise constant: each day every CVE already published the
  * day before draws a new score with probability `ChangeRate` (a change
  * always moves the value), and `newPerDay` CVEs are first published. The
  * percentile is the day's rank, as in the real feed. The generator records
  * which (day, CVE) cells changed, so the expected change log of any request
  * comes from the generator's own bookkeeping and never from the engine's
  * quantization code. Day 0 is `Start`; `addDay` generates one more day, so
  * the feed grows for as long as a run keeps appending.
  */
final class EpssFeed(val spec: FeedSpec, initialDays: Int) {
  import EpssFeed._

  private val rng = new SplittableRandom(spec.seed)
  val cveIds = ArrayBuffer[String]()
  /** epss(day)(cve) and pct(day)(cve), integer 1e-5 units. */
  val epss = ArrayBuffer[Array[Int]]()
  val pct = ArrayBuffer[Array[Int]]()
  /** changed(day)(cve): the score moved from day-1 to day (never set on a
    * CVE's first day or on day 0). */
  val changed = ArrayBuffer[java.util.BitSet]()

  def days: Int = epss.size
  def live(day: Int): Int = spec.initialCves + spec.newPerDay * day
  def date(day: Int): LocalDate = Start.plusDays(day.toLong)
  def dayOf(d: LocalDate): Int = (d.toEpochDay - Start.toEpochDay).toInt

  /** Generates the next day; returns its index. */
  def addDay(): Int = {
    val d = days
    val n = live(d)
    while (cveIds.size < n) {
      val i = cveIds.size
      cveIds += f"CVE-${2000 + i % 25}%04d-${10000 + i}%06d"
    }
    val e = new Array[Int](n)
    val ch = new java.util.BitSet(n)
    val known = if (d == 0) 0 else live(d - 1)
    for (i <- 0 until n) {
      if (i < known) {
        val prev = epss(d - 1)(i)
        if (rng.nextDouble() < ChangeRate) {
          var v = drawScore(rng)
          while (v == prev) v = drawScore(rng)
          e(i) = v; ch.set(i)
        } else e(i) = prev
      } else e(i) = drawScore(rng)
    }
    epss += e
    pct += percentiles(e)
    changed += ch
    d
  }

  (0 until initialDays).foreach(_ => addDay())

  def feedName(day: Int): String = s"epss_scores-${date(day)}.csv.gz"

  /** Write day `day` as the published gzipped CSV (with its
    * `#model_version` comment line); returns the file. */
  def writeFeed(dir: Path, day: Int): Path = {
    val f = dir.resolve(feedName(day))
    val w = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(Files.newOutputStream(f), 1 << 16), StandardCharsets.US_ASCII), 1 << 16)
    try {
      w.write(s"#model_version:v2023.03.01,score_date:${date(day)}T00:00:00+0000\n")
      w.write("cve,epss,percentile\n")
      val e = epss(day); val p = pct(day)
      var i = 0
      while (i < e.length) {
        w.write(cveIds(i)); w.write(','); w.write(fixed5(e(i)))
        w.write(','); w.write(fixed5(p(i))); w.write('\n')
        i += 1
      }
    } finally w.close()
    f
  }

  private def row(d: Int, i: Int) = ScoreRow(date(d).toString, cveIds(i), epss(d)(i), pct(d)(i))

  /** Expected `scores` change log for [a, b] against a store holding days
    * `0..last`: a row for each change at day d in [a, b], d >= 1, whose CVE
    * was published on d-1 (a CVE's first row in the scanned frame is
    * dropped), restricted to `cves` when given. Served order: date asc,
    * epss desc, cve desc.
    */
  def changeLog(a: Int, b: Int, last: Int, cves: Option[Set[Int]] = None): Seq[ScoreRow] = {
    val rows = Seq.newBuilder[ScoreRow]
    for (d <- math.max(a, 1) to math.min(b, last)) {
      val ch = changed(d)
      val ids = cves.fold(Iterator.iterate(ch.nextSetBit(0))(i => ch.nextSetBit(i + 1))
        .takeWhile(_ >= 0))(s => s.iterator.filter(ch.get))
      ids.foreach(i => rows += row(d, i))
    }
    rows.result().sorted(ServedOrder)
  }

  /** Expected dense single-day read with a `--min-epss` bound. */
  def dense(day: Int, minEpss: Int): Seq[ScoreRow] =
    epss(day).indices.filter(epss(day)(_) >= minEpss).map(row(day, _)).sorted(ServedOrder)

  /** Every published row of one day, in CVE order. */
  def snapshot(day: Int): Seq[ScoreRow] = epss(day).indices.map(row(day, _))
}

object EpssFeed {

  /** Share of published CVEs whose score moves on a given day. */
  val ChangeRate = 0.008
  /** Day 0, inside the v3 model window (from 2023-03-07), so no request
    * date is clamped. */
  val Start: LocalDate = LocalDate.parse("2024-01-01")

  /** Heavy-tailed like the published scores: most CVEs sit near the floor. */
  private def drawScore(rng: SplittableRandom): Int = {
    val u = rng.nextDouble()
    1 + (99999 * math.pow(u, 8)).toInt
  }

  /** Rank percentile: share of the day's CVEs scoring at or below each. */
  private def percentiles(e: Array[Int]): Array[Int] = {
    val counts = new Array[Int](100001)
    e.foreach(v => counts(v) += 1)
    var acc = 0
    for (v <- counts.indices) { acc += counts(v); counts(v) = acc }
    val n = e.length.toLong
    e.map(v => ((counts(v).toLong * 100000L) / n).toInt)
  }

  def fixed5(v: Int): String = java.math.BigDecimal.valueOf(v.toLong, 5).toPlainString

  /** date asc, epss desc, cve desc — the CLI's display order. */
  val ServedOrder: Ordering[ScoreRow] = (x: ScoreRow, y: ScoreRow) => {
    val c1 = x.date.compareTo(y.date)
    if (c1 != 0) c1
    else {
      val c2 = Integer.compare(y.epss, x.epss)
      if (c2 != 0) c2 else y.cve.compareTo(x.cve)
    }
  }

  /** Row count plus an order-sensitive 64-bit hash of the rows. */
  final case class Digest(rows: Long, hash: Long)

  def digest(rows: Iterator[ScoreRow]): Digest = {
    var n = 0L
    var h = 0xcbf29ce484222325L
    rows.foreach { r =>
      h = (h ^ scala.util.hashing.MurmurHash3.stringHash(r.key).toLong) * 0x100000001b3L
      n += 1
    }
    Digest(n, h)
  }

  /** Parse a score rendered by any sink (`1.0E-5`, `0.12345`, ...). */
  def units(v: Double): Int = math.round(v * 100000.0).toInt
}
