package lakebench

import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** One op of the timed phase. `build`/`exec` split a registry query into
  * the time inside `fn(spark, sf)` and the time of its `noop` write. */
final case class OpRec(id: Long, name: String, start: Double, end: Double,
                       build: Double, exec: Double, ok: Boolean, traced: Boolean) {
  def wall: Double = end - start
}

/** Closed-loop, single-client runner of one workload over the program's
  * public entry points. Writes a JSON report; see perfbench/README.md. */
object LakeBench {
  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: String, out: String, cores: Int, setups: Int)

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("work"), m("out"), m("cores").toInt, m("setups").toInt)
  }

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    val w = Workload(c.workload, c)
    val res = new Run(c, w).execute()
    Json.write(c.out, res)
  }
}

/** A workload: per-setup state, one pass of ops, and the untimed
  * correctness work that follows the timed phase. */
trait Workload {
  def name: String
  /** Warm wall time of one pass on the 4-core reference host: a run of
    * `--seconds` makes round(seconds / passSeconds) passes. */
  def passSeconds: Double
  def scratchDirs: Seq[String] = Nil
  /** Fresh per-setup state (tables, models) before the warm pass. */
  def reset(spark: SparkSession, setup: Int): Unit = ()
  /** The ops of pass `pass`, in seeded order, as (name, body) pairs. */
  def pass(spark: SparkSession, pass: Int): Seq[(String, OpCtx => Unit)]
  /** Ops that close the timed phase (e.g. vacuum); timed, not a pass. */
  def finish(spark: SparkSession): Seq[(String, OpCtx => Unit)] = Nil
  /** Untimed correctness work after the timed phase: checks outputs or
    * dumps them under `dir` for the oracle compare. Returns the names of
    * ops that failed here. */
  def verify(spark: SparkSession, dir: String): Seq[String]
  /** Registry queries whose results `verify` dumped for the oracle. */
  def dumped: Seq[String] = Nil
  /** Workload-specific figures, computed after verification. */
  def extra(spark: SparkSession, ops: Seq[OpRec]): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, c: LakeBench.Conf): Workload = name match {
    case "read_mix" => new QueryWorkload(name, c, Catalog.readMix, passSeconds = 2.0)
    case "txlog_write" => new TxWorkload(c)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

object Catalog {
  /** Analyst SQL surface: registry reads with a DuckDB oracle that write
    * no table, one or two per family (README.md gives the choice). */
  val readMix: Seq[String] = Seq("a1_groupby_multi", "f2_normalize_text", "j1_star_join_agg",
    "w1_dedup_latest", "p4_not_in_set", "skew_salted_agg", "quality_observed_metrics")

  /** TxLog-sinking and TxLog-sourced AvailableNow streams, run once each
    * in a traced run for the streaming layer's figures. */
  val streamProbe: Seq[String] = Seq("stream_txlog_sink", "stream_txlog_cdf")
}

/** Registry queries: one op is `fn(spark, sf)` then a `noop` write. */
final class QueryWorkload(val name: String, c: LakeBench.Conf, names: Seq[String],
                          val passSeconds: Double) extends Workload {
  private val fns = SparkEntry.queries
  require(names.forall(fns.contains), s"unknown queries: ${names.filterNot(fns.contains)}")

  def pass(spark: SparkSession, p: Int): Seq[(String, OpCtx => Unit)] =
    new Random(c.seed * 1000003L + p).shuffle(names).map { n =>
      n -> { (ctx: OpCtx) =>
        val df = ctx.phase("build")(fns(n)(spark, c.data))
        ctx.phase("exec")(df.write.format("noop").mode("overwrite").save())
      }
    }

  def verify(spark: SparkSession, dir: String): Seq[String] = {
    val failed = mutable.ArrayBuffer.empty[String]
    names.foreach { n =>
      try fns(n)(spark, c.data).coalesce(1).write.mode("overwrite").parquet(s"$dir/$n")
      catch { case e: Throwable =>
        System.err.println(s"[lakebench] verify $n failed: ${e.getMessage}")
        failed += n
      }
    }
    failed.toList
  }

  override def dumped: Seq[String] = names
}
