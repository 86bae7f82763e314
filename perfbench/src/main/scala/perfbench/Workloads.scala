package perfbench

import java.sql.DriverManager
import java.util.Properties

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{call_function, col, struct, xxhash64}

import graft.SparkEntry
import graft.etl.EtlPipeline

/** What the timed op returned, plus the checks and counts read after the
  * timed region ends. */
final case class OpDone(check: () => Boolean, counts: Map[String, Double] = Map.empty)

/** One workload: its warmup and its ops. An op's body is timed; the check
  * it returns is not. */
trait Workload {
  def warmup(spark: SparkSession): Unit
  def ops(pass: Int): Seq[String]
  def run(spark: SparkSession, op: String, tr: Tracer): OpDone
  /** Work units of one pass, for `lines_per_s`. */
  def unitsPerPass: Double
}

/** The paper's product path: `EtlPipeline.run` over a gz corpus into a fresh
  * in-memory Derby database per op. `expect` holds the DuckDB oracle's
  * figures for the corpus (rows_in, rows_parsed, Σreceived_bytes,
  * Σsent_bytes, Σelb_status_code); the loaded table is read back against
  * them after the op. */
final class EtlWorkload(corpus: String, warmCorpus: String, lines: Long,
                        expect: Seq[Long]) extends Workload {
  private var dbSeq = 0
  private val sampler = new StackSampler()

  private def props: Properties = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    p
  }

  private def freshDb(): String = { dbSeq += 1; s"perfbench$dbSeq" }

  private def dropDb(db: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true")
    catch { case _: java.sql.SQLException => () } // Derby signals a drop with 08006

  def warmup(spark: SparkSession): Unit = {
    val db = freshDb()
    try EtlPipeline.run(spark, warmCorpus, s"jdbc:derby:memory:$db;create=true",
      props = props)
    finally dropDb(db)
  }

  def ops(pass: Int): Seq[String] = Seq("EtlPipeline.run")

  def unitsPerPass: Double = lines.toDouble

  def run(spark: SparkSession, op: String, tr: Tracer): OpDone = {
    val db = freshDb()
    val url = s"jdbc:derby:memory:$db;create=true"
    var layers = Map.empty[String, Double]
    val res = tr.span("EtlPipeline.run") { s =>
      if (s == null) EtlPipeline.run(spark, corpus, url, props = props)
      else {
        sampler.start()
        val t0 = System.nanoTime()
        try EtlPipeline.run(spark, corpus, url, props = props)
        finally {
          val wall = (System.nanoTime() - t0) / 1e9
          val raw = sampler.stop()
          // rescale the sampled interval to the call's own wall time
          val k = wall / raw.values.sum.max(1e-9)
          layers = raw.map { case (l, v) => l -> v * k }
          s.attrs("layer_self_s") = layers
          s.attrs("samples") = sampler.samples
        }
      }
    }
    val counts = layers ++ Map(
      "etl.rows_in" -> res.rowsIn.toDouble,
      "etl.rows_parsed" -> res.rowsParsed.toDouble,
      "etl.rows_loaded" -> res.rowsLoaded.toDouble)
    OpDone(() => try check(res, db) finally dropDb(db), counts)
  }

  private def check(res: EtlPipeline.Result, db: String): Boolean = {
    val Seq(rowsIn, rowsParsed, sumRecv, sumSent, sumStatus) = expect
    val counted = res.rowsIn == rowsIn && res.rowsParsed == rowsParsed &&
      res.rowsLoaded == rowsParsed
    if (!counted) {
      System.err.println(s"[perfbench] etl counts $res, expected in=$rowsIn parsed=$rowsParsed")
      return false
    }
    val c = DriverManager.getConnection(s"jdbc:derby:memory:$db")
    try {
      val rs = c.createStatement().executeQuery(
        """SELECT COUNT(*), SUM(CAST("received_bytes" AS BIGINT)),
          |SUM(CAST("sent_bytes" AS BIGINT)), SUM(CAST("elb_status_code" AS BIGINT))
          |FROM elb_log_data""".stripMargin)
      rs.next()
      val got = Seq(rs.getLong(1), rs.getLong(2), rs.getLong(3), rs.getLong(4))
      val want = Seq(rowsParsed, sumRecv, sumSent, sumStatus)
      if (got != want) System.err.println(s"[perfbench] derby read-back $got, expected $want")
      got == want
    } finally c.close()
  }
}

/** A fixed list of registry queries, one op per query, in a seeded order
  * per pass. An op is the query's construction (`SparkEntry.queries(name)`,
  * which runs any eager actions of its body) and its execution: the
  * full-column hash `Bench.consume` computes, whose value is checked
  * against the pinned one. */
final class QueryWorkload(sfDir: String, warmDir: String, names: Seq[String],
                          pins: Map[String, Long], seed: Long) extends Workload {

  /** The list's first query at the warmup scale: enough to load and JIT the
    * session's shared machinery, and cheap enough to repeat per set-up. The
    * first compile of every other query is the cold pass's to pay. */
  def warmup(spark: SparkSession): Unit =
    QueryWorkload.hash(SparkEntry.queries(names.head)(spark, warmDir))

  def ops(pass: Int): Seq[String] = new Random(seed * 1000003L + pass).shuffle(names)

  def unitsPerPass: Double = names.size.toDouble

  def run(spark: SparkSession, op: String, tr: Tracer): OpDone = {
    val df = tr.span("SparkEntry.queries")(_ => SparkEntry.queries(op)(spark, sfDir))
    val h = tr.span("Bench.consume")(_ => QueryWorkload.hash(df))
    OpDone(() => {
      val ok = pins.get(op).contains(h)
      if (!ok) System.err.println(s"[perfbench] $op hash $h, pinned ${pins.get(op)}")
      ok
    })
  }
}

object QueryWorkload {
  /** The expression of `graft.Bench.consume`, returning the value it
    * discards: bit_xor of xxhash64 over every output column. */
  def hash(df: DataFrame): Long = {
    val r = df.agg(call_function("bit_xor", xxhash64(struct(df.columns.map(col): _*)))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }
}
