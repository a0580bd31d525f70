package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.EpssCli

/** Invariants of the `epss_store` generator that its oracle relies on. */
class EpssFeedSpec extends AnyFunSuite {

  private val feed = new EpssFeed(FeedSpec(seed = 7, initialCves = 4000, newPerDay = 25), 30)

  test("scores change at the daily change rate, and a change always moves the value") {
    var draws, changes = 0L
    for (d <- 1 until feed.days; i <- 0 until feed.live(d - 1)) {
      draws += 1
      val moved = feed.epss(d)(i) != feed.epss(d - 1)(i)
      assert(moved == feed.changed(d).get(i), s"day $d cve $i")
      if (moved) changes += 1
    }
    val rate = changes.toDouble / draws
    assert(math.abs(rate - EpssFeed.ChangeRate) < 0.0015, s"observed change rate $rate")
  }

  test("the CVE set only grows, and first sightings never appear in a change log") {
    assert((1 until feed.days).forall(d => feed.live(d) > feed.live(d - 1)))
    for (a <- Seq(0, 1, 10); b <- Seq(a + 6, feed.days - 1)) {
      val log = feed.changeLog(a, b, feed.days - 1)
      assert(log.nonEmpty)
      log.foreach { r =>
        val d = feed.dayOf(java.time.LocalDate.parse(r.date))
        assert(d >= math.max(a, 1) && d <= b)
        assert(feed.cveIds.indexOf(r.cve) < feed.live(d - 1), s"first sighting served: $r")
      }
    }
  }

  test("the generator is a pure function of the seed") {
    val again = new EpssFeed(feed.spec, 10)
    while (again.days < feed.days) again.addDay()
    assert((0 until feed.days).forall(d => again.epss(d).sameElements(feed.epss(d))))
    assert(EpssFeed.digest(again.changeLog(0, 29, 29).iterator) ==
      EpssFeed.digest(feed.changeLog(0, 29, 29).iterator))
  }

  test("download ingests a day once and skips the re-download; scores match the oracle") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val small = new EpssFeed(FeedSpec(seed = 3, initialCves = 300, newPerDay = 5), 12)
      val dir = Files.createTempDirectory("epssfeed-")
      val feedDir = Files.createDirectories(dir.resolve("feed"))
      (0 until small.days).foreach(small.writeFeed(feedDir, _))
      val store = dir.resolve("store").toString
      def cli(args: String*): String = {
        val buf = new ByteArrayOutputStream()
        Console.withOut(new PrintStream(buf, true, "UTF-8"))(EpssCli.run(spark, args))
        buf.toString("UTF-8").trim
      }
      val day = small.date(small.days - 1).toString
      assert(cli("download", "--store", store, "--feed-dir", feedDir.toString, "-b",
        small.date(small.days - 2).toString).contains("\"ingested\": 11"))
      assert(cli("download", "--store", store, "--feed-dir", feedDir.toString, "--date", day)
        .contains("\"ingested\": 1, \"skipped\": 0"))
      assert(cli("download", "--store", store, "--feed-dir", feedDir.toString, "--date", day)
        .contains("\"ingested\": 0, \"skipped\": 1"))

      val out = dir.resolve("log.json").toString
      cli("scores", "--store", store, "-a", small.date(2).toString, "--output", out)
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val served = mapper.readTree(new java.io.File(out)).elements().asScala.map(n =>
        ScoreRow(n.get("date").asText, n.get("cve").asText,
          EpssFeed.units(n.get("epss").asDouble), EpssFeed.units(n.get("percentile").asDouble)))
      val last = small.days - 1
      assert(EpssFeed.digest(served) == EpssFeed.digest(small.changeLog(2, last, last).iterator))
    } finally spark.stop()
  }
}
