package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.EpssCli

/** `epss_store`: the paper's own surface. Setup generates seeded daily feed
  * files and ingests them with `EpssCli download`; the loop then mixes
  * `EpssCli scores` reads (narrow and wide quantized windows, a dense day
  * with `--min-epss`, a CVE-set history) with `download` writes (append the
  * next day, then a re-download that must be skipped). Every request is
  * checked against the generator's own change log.
  */
final class EpssStore(spark: SparkSession, work: Path, seed: Long) extends Workload {
  import EpssStore._

  private val feedDir = work.resolve("feed")
  private val store = work.resolve("store").toString
  private val outDir = work.resolve("out")
  private val rng = new java.util.SplittableRandom(seed ^ 0x5deece66dL)
  private val mapper = new ObjectMapper()
  private val spec = FeedSpec(seed, initialCves = 20000, newPerDay = 40)
  private var lastDay = InitialDays - 1
  private val feed = new EpssFeed(spec, InitialDays)
  private val feedBytes = ArrayBuffer[Long]()
  /** append op id -> (feed bytes, partition bytes written) */
  private val appended = scala.collection.mutable.Map[Long, (Long, Long)]()
  /** re-download op ids that were skipped */
  private val skipped = scala.collection.mutable.Set[Long]()
  private var harness: Harness = _
  /** op id -> (rows served, bytes served) */
  private val served = scala.collection.mutable.Map[Long, (Long, Long)]()
  private val Formats = Seq("csv", "jsonl", "parquet", "json")
  /** Counts `scores` requests: picks the sink format and names the output. */
  private var request = 0

  def sizes: Map[String, Any] = Map(
    "initial_cves" -> spec.initialCves, "new_cves_per_day" -> spec.newPerDay,
    "initial_days" -> InitialDays, "dense_rows_initial" ->
      (0 until InitialDays).map(feed.live).sum, "change_rate_per_day" -> EpssFeed.ChangeRate,
    "first_date" -> EpssFeed.Start.toString)

  def setup(h: Harness): Seq[String] = {
    harness = h
    val t0 = System.nanoTime()
    def lap(what: String): Unit =
      System.err.println(f"[perfbench] setup $what done at ${(System.nanoTime() - t0) / 1e9}%.2f s")
    Files.createDirectories(feedDir)
    Files.createDirectories(outDir)
    (0 until InitialDays).foreach(d => feedBytes += Files.size(feed.writeFeed(feedDir, d)))
    lap("feed generation")
    val out = cli(Seq("download", "--store", store, "--feed-dir", feedDir.toString,
      "-a", feed.date(0).toString, "-b", feed.date(lastDay).toString))
    val ingestErr =
      if (field(out, "ingested") != InitialDays) Seq(s"setup ingest: $out") else Nil
    lap("ingest")
    // the first requests pay for JIT and code generation; checked, not timed
    Seq(narrow(), wide()).foreach(h.runOp)
    lap("warmup")
    ingestErr
  }

  /** Twelve reads, then one append and its idempotent re-download. */
  def cycle(i: Int): Seq[Op] =
    Seq(narrow(), dense(), history(), wide(), narrow(), dense(), history(), narrow(),
      wide(), dense(), history(), narrow()) ++ append()

  /** Runs the CLI, returning what it printed. */
  private def cli(args: Seq[String]): String = {
    val buf = new ByteArrayOutputStream()
    harness.tracer.span(s"EpssCli.run ${args.head}", "EpssCli")(
      Console.withOut(new PrintStream(buf, true, "UTF-8"))(EpssCli.run(spark, args)))
    buf.toString("UTF-8").trim
  }

  private def field(json: String, k: String): Int =
    Option(mapper.readTree(json.linesIterator.toSeq.lastOption.getOrElse("{}")).get(k)).fold(-1)(_.asInt)

  /** A `scores` request served to a new file; checked against `expected`,
    * then the file is deleted (untimed). */
  private def scores(name: String, args: Seq[String], expected: () => Seq[ScoreRow]): Op = {
    val fmt = Formats(request % Formats.size)
    val path = outDir.resolve(s"$name-$request.$fmt")
    request += 1
    Op("read", s"scores.$name", () =>
      cli(Seq("scores", "--store", store) ++ args ++ Seq("--output", path.toString)), () => {
      val got = EpssFeed.digest(readServed(path, fmt))
      served(harness.currentId) = (got.rows, treeBytes(path))
      deleteTree(path)
      val want = EpssFeed.digest(expected().iterator)
      if (got == want) None
      else Some(s"served ${got.rows} rows (hash ${got.hash}), expected ${want.rows} (hash ${want.hash})")
    })
  }

  private def narrow(): Op = {
    val a = 1 + rng.nextInt(lastDay - 6)
    val b = a + 6
    scores("narrow", Seq("-a", feed.date(a).toString, "-b", feed.date(b).toString),
      () => feed.changeLog(a, b, lastDay))
  }

  /** No bounds: the default v3 window, i.e. the whole store. */
  private def wide(): Op = {
    val last = lastDay
    scores("wide", Nil, () => feed.changeLog(0, last, last))
  }

  private def dense(): Op = {
    val d = rng.nextInt(lastDay + 1)
    val min = 20000 + rng.nextInt(40000)
    scores("dense", Seq("--date", feed.date(d).toString, "--no-drop-unchanged",
      "--min-epss", EpssFeed.fixed5(min)), () => feed.dense(d, min))
  }

  private def history(): Op = {
    val ids = Seq.fill(20)(rng.nextInt(feed.live(lastDay))).toSet
    val last = lastDay
    scores("history", Seq("-a", feed.date(0).toString, "-b", feed.date(last).toString) ++
      ids.toSeq.flatMap(i => Seq("--cve", feed.cveIds(i))),
      () => feed.changeLog(0, last, last, Some(ids)))
  }

  /** Ingest the next day, then ask for it again: the second must skip. The
    * day's feed file is generated here, when the cycle is built, untimed. */
  private def append(): Seq[Op] = {
    val d = lastDay + 1
    if (d == feed.days) feed.writeFeed(feedDir, feed.addDay())
    val args = Seq("download", "--store", store, "--feed-dir", feedDir.toString,
      "--date", feed.date(d).toString)
    val part = java.nio.file.Paths.get(store, s"date=${feed.date(d)}")
    var first, second = ""
    var filesAfterAppend = Seq.empty[(String, Long)]
    Seq(
      Op("write", "download.append", () => { first = cli(args) }, () => {
        lastDay = d
        filesAfterAppend = listing(part)
        appended(harness.currentId) = (Files.size(feedDir.resolve(feed.feedName(d))), treeBytes(part))
        feedBytes += Files.size(feedDir.resolve(feed.feedName(d)))
        if (field(first, "ingested") != 1) Some(s"append did not ingest: $first")
        else {
          val rows = spark.read.parquet(part.toString).collect().map(r =>
            ScoreRow(feed.date(d).toString, r.getAs[String]("cve"),
              EpssFeed.units(r.getAs[Double]("epss")), EpssFeed.units(r.getAs[Double]("percentile"))))
          val got = EpssFeed.digest(rows.sortBy(_.cve).iterator)
          val want = EpssFeed.digest(feed.snapshot(d).sortBy(_.cve).iterator)
          if (got == want) None else Some(s"stored ${got.rows} rows, expected ${want.rows}, or values differ")
        }
      }),
      Op("write", "download.again", () => { second = cli(args) }, () => {
        if (field(second, "skipped") == 1) skipped += harness.currentId
        if (field(second, "skipped") != 1 || field(second, "ingested") != 0)
          Some(s"re-download was not skipped: $second")
        else if (listing(part) != filesAfterAppend) Some("re-download rewrote the partition")
        else None
      }))
  }

  /** Rows of a served file in file order, whatever the sink format. */
  private def readServed(path: Path, fmt: String): Iterator[ScoreRow] = {
    def fromJson(n: JsonNode) = ScoreRow(n.get("date").asText, n.get("cve").asText,
      EpssFeed.units(n.get("epss").asDouble), EpssFeed.units(n.get("percentile").asDouble))
    def parts(ext: String): Seq[Path] =
      Files.list(path).iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
        .filter(_.toString.endsWith(ext)).toSeq.sortBy(_.getFileName.toString)
    fmt match {
      case "json" => mapper.readTree(path.toFile).elements().asScala.map(fromJson)
      case "jsonl" => parts(".json").iterator.flatMap(p => Files.readAllLines(p).asScala)
        .filter(_.nonEmpty).map(l => fromJson(mapper.readTree(l)))
      case "csv" => parts(".csv").iterator.flatMap(p => Files.readAllLines(p).asScala.drop(1))
        .filter(_.nonEmpty).map { l =>
          val c = l.split(',')
          ScoreRow(c(0), c(1), EpssFeed.units(c(2).toDouble), EpssFeed.units(c(3).toDouble))
        }
      case "parquet" => spark.read.parquet(path.toString).collect().iterator.map(r =>
        ScoreRow(r.getAs[java.sql.Date]("date").toString, r.getAs[String]("cve"),
          EpssFeed.units(r.getAs[Double]("epss")), EpssFeed.units(r.getAs[Double]("percentile"))))
    }
  }

  private def listing(p: Path): Seq[(String, Long)] =
    Files.list(p).iterator().asScala.map(f => f.getFileName.toString -> Files.size(f)).toSeq.sorted

  private def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  def endToEnd(ops: Seq[OpRecord]): Seq[Metric] = {
    val reads = ops.filter(_.kind == "read").map(_.seconds)
    val writes = ops.filter(_.name == "download.append").map(_.seconds)
    Seq(
      Metric.timing("read_p50_s", reads, 0.5), Metric.timing("read_p90_s", reads, 0.9),
      Metric.timing("write_p50_s", writes, 0.5),
      Metric("store_bytes_ratio", treeBytes(java.nio.file.Paths.get(store)).toDouble / feedBytes.sum,
        "ratio", 1))
  }

  def layers(traces: Seq[OpTrace], ops: Seq[OpRecord]): Map[String, Double] = {
    val byId = ops.map(o => o.id -> o).toMap
    val reads = traces.filter(t => byId.get(t.root.op).exists(_.kind == "read"))
    val quantized = reads.filter(t => !t.root.name.endsWith("dense"))
    val filtered = reads.filter(t => t.root.name.endsWith("dense") || t.root.name.endsWith("history"))
    val appends = traces.filter(_.root.name == "download.append")
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    def storeScans(t: OpTrace) = t.nodes.filter(n => n.format == "Parquet" && n.root.contains("/store"))
    def m(n: PlanNode, k: String) = n.metrics.getOrElse(k, 0.0)
    def below(t: OpTrace, id: Int): Seq[PlanNode] = {
      val kids = t.nodes.filter(_.parent == id)
      kids ++ kids.flatMap(k => below(t, k.id))
    }
    // each quantize: rows into the window (its exchange) and rows kept (the
    // filter above it)
    val windows = quantized.flatMap { t =>
      t.nodes.filter(_.name == "Window").map { w =>
        val ex = below(t, w.id).find(_.name == "Exchange")
        val kept = t.nodes.find(n => n.id == w.parent && n.name == "Filter")
          .orElse(t.nodes.find(n => n.name == "Filter" && below(t, n.id).exists(_.id == w.id)))
        (ex.fold(0.0)(m(_, "shuffleRecordsWritten")), kept.fold(0.0)(m(_, "numOutputRows")),
          ex.fold(0.0)(m(_, "shuffleBytesWritten")))
      }
    }
    val epssFilters = filtered.flatMap(t => t.nodes.filter(n => n.module == "engine.EpssQuery" && n.name == "Filter")
      .map(f => (m(f, "numOutputRows"), below(t, f.id).find(_.name.startsWith("Scan")).fold(0.0)(m(_, "numOutputRows")))))
    val rowsServed = reads.flatMap(t => served.get(t.root.op)).map(_._1).sum
    Map(
      "ScoreStore.scan_s" -> mean(reads.map(t => storeScans(t).map(m(_, "scanTime")).sum)),
      "ScoreStore.files_read" -> mean(reads.map(t => storeScans(t).map(m(_, "numFiles")).sum)),
      "ScoreStore.partitions_read" -> mean(reads.map(t => storeScans(t).map(m(_, "numPartitions")).sum)),
      "ScoreStore.rows_scanned_per_row_returned" -> ratio(
        reads.map(t => storeScans(t).map(m(_, "numOutputRows")).sum).sum, rowsServed.toDouble),
      "ScoreStore.listing_s" -> mean(reads.map { t =>
        val st = t.stages.map(s => s.stageId -> s).toMap
        t.jobs.filter(j => j.endUs > 0 && j.stageIds.nonEmpty && j.stageIds.forall(id =>
          st.get(id).exists(s => s.execId < 0 && s.caller == "sources.ScoreStore")))
          .map(j => (j.endUs - j.startUs) / 1e6).sum
      }),
      "ScoreStore.maxdate_s" -> mean(reads.map(_.queries.filter(_.funcName == "head").map(_.durationS).sum)),
      "Changes.window_s" -> mean(quantized.map(_.moduleBusy.getOrElse("engine.Changes", 0.0))),
      "Changes.rows_in" -> mean(windows.map(_._1)),
      "Changes.keep_ratio" -> ratio(windows.map(_._2).sum, windows.map(_._1).sum),
      "Changes.exchange_write_bytes" -> mean(windows.map(_._3)),
      "EpssQuery.filter_selectivity" -> ratio(epssFilters.map(_._1).sum, epssFilters.map(_._2).sum),
      "EpssQuery.pushed_filters" -> mean(filtered.map(t => storeScans(t).map(_.pushedFilters.toDouble).sum)),
      "Outputs.write_s" -> mean(reads.map { t =>
        val b = t.moduleBusy
        Seq("sink", "engine.Outputs", "sources.IO").map(b.getOrElse(_, 0.0)).sum
      }),
      "Outputs.bytes_out" -> mean(reads.flatMap(t => served.get(t.root.op)).map(_._2.toDouble)),
      "ScoreStore.ingest_s" -> mean(appends.map(_.queries.filter(_.nodes.exists(_.module == "sink"))
        .map(_.durationS).sum)),
      "ScoreStore.bytes_written_per_input_byte" -> {
        val bytes = appends.flatMap(t => appended.get(t.root.op))
        ratio(bytes.map(_._2).sum.toDouble, bytes.map(_._1).sum.toDouble)
      },
      "ScoreStore.ingest_skipped" -> traces.count(t => skipped.contains(t.root.op)).toDouble)
  }
}

object EpssStore {
  /** Days ingested in setup: more than 32 partitions, so every request
    * lists the store with a Spark job, as a real store does. */
  val InitialDays = 34
}
