package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.SparkEntry

/** `suite_floor` / `suite_kernels`: `SparkEntry.queries` at a fixed scale.
  * Setup runs each query once, untimed, as the check pass (row count plus
  * an order-insensitive fingerprint against the expected file), then, if
  * `warm`, one untimed pass; the loop then times full-result executions
  * (`noop` sink), `passes` passes per cycle, each in a seed-permuted order.
  */
final class Suites(spark: SparkSession, val queryIds: Seq[String], passes: Int, warm: Boolean,
                   dataDir: String,
                   expectedFile: Path, seed: Long, writeExpected: Boolean) extends Workload {

  private val all = SparkEntry.queries
  val names: Seq[String] = queryIds.map(id => all.keys.find(_.startsWith(id + "_"))
    .getOrElse(sys.error(s"no query $id in SparkEntry.queries")))
  private val mapper = new ObjectMapper()
  private var tracer: Tracer = _

  def sizes: Map[String, Any] = Map("data" -> dataDir, "queries" -> names, "passes_per_cycle" -> passes,
    "untimed_warm_pass" -> warm)

  def setup(h: Harness): Seq[String] = {
    tracer = h.tracer
    val expected: Map[String, (Long, String)] =
      if (!Files.exists(expectedFile)) Map.empty
      else mapper.readTree(expectedFile.toFile).fields().asScala.map { e =>
        e.getKey -> (e.getValue.get("rows").asLong, e.getValue.get("fingerprint").asText)
      }.toMap
    val got = scala.collection.mutable.LinkedHashMap[String, (Long, String)]()
    names.sorted.foreach { n =>
      h.runOp(Op("check", n, () => { got(n) = Suites.fingerprint(all(n)(spark, dataDir)) }, () =>
        if (writeExpected) None
        else expected.get(n) match {
          case None => Some("no expected fingerprint")
          case Some(e) if got.get(n).contains(e) => None
          case Some(e) => Some(s"got ${got.get(n)}, expected $e")
        }))
    }
    if (writeExpected) {
      val body = (expected ++ got).toSeq.sortBy(_._1).map { case (n, (rows, fp)) =>
        n -> Map("rows" -> rows, "fingerprint" -> fp)
      }
      Files.writeString(expectedFile, Json.render(scala.collection.immutable.ListMap(body: _*)) + "\n")
    }
    if (warm) cycle(-1).take(names.size).foreach(op => h.runOp(op.copy(kind = "warm")))
    Nil
  }

  /** `passes` passes over the queries, each in its own seeded order. */
  def cycle(i: Int): Seq[Op] = (0 until passes).flatMap { k =>
    new scala.util.Random(seed * 1000003L + i * passes + k).shuffle(names)
  }.map { n =>
      Op("query", n, () => {
        val df = tracer.span("SparkEntry.queries", "SparkEntry")(all(n)(spark, dataDir))
        tracer.span("noop sink", "sink")(df.write.format("noop").mode("overwrite").save())
      })
    }

  def endToEnd(ops: Seq[OpRecord]): Seq[Metric] = Nil

  def layers(traces: Seq[OpTrace], ops: Seq[OpRecord]): Map[String, Double] = Map.empty
}

object Suites {
  /** (rows, order-insensitive fingerprint). Floating values are compared at
    * nine significant digits, so a later change of summation order does not
    * read as a wrong result; everything else is compared exactly. The
    * fingerprint is observed on the way into the same `noop` sink the timed
    * ops use, so the check pass also warms up the plans it times (the first
    * `noop` executions after a separate aggregate ran 10-50 % slower). */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.map(f => canon(col(s"`${f.name}`"), f.dataType))
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows"), sum(xxhash64(cols: _*).cast(DecimalType(38, 0))).as("h"))
      .write.format("noop").mode("overwrite").save()
    val r = obs.get
    (r("rows").asInstanceOf[Long],
      Option(r("h")).fold("0")(_.asInstanceOf[java.math.BigDecimal].toPlainString))
  }

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.8e", c)
    case ArrayType(DoubleType | FloatType, _) => transform(c, x => format_string("%.8e", x))
    case _ => c
  }
}
