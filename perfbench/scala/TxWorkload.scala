package lakebench

import java.io.File
import java.sql.Timestamp
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, round, sum}
import org.apache.spark.sql.types.StructType
import graft.operators.TxLog
import graft.sources.Tables

/** Thrown by an op whose read-back disagrees with the model. */
final class WrongResult(msg: String) extends RuntimeException(msg)

/** The reference's daily incremental MERGE, driven through the public
  * TxLog verbs on an `events`-derived table. A model replays the same
  * seeded verbs as plain map operations on the rows; every read verb is
  * checked against it inside the op, the final table after the run. */
final class TxWorkload(c: LakeBench.Conf) extends Workload {
  val name = "txlog_write"
  val passSeconds = 4.0

  final case class Ev(ts: Long, user: Long, kind: String, value: Double, props: String)
  final case class Agg(rows: Long, ids: Long, cents: Long)

  private val kinds = Seq("click", "error", "purchase", "signup", "view")
  private var base = ""
  private var schema: StructType = _
  private var source: Seq[(Long, Ev)] = Nil
  private val model = mutable.LinkedHashMap.empty[Long, Ev]
  private val aggAt = mutable.HashMap.empty[Long, Agg]
  private val versionOf = mutable.HashMap.empty[Long, Long]
  private var nextId = 0L
  private var day = 0
  private var created = false

  private def cents(v: Double): Long = math.round(v * 100)
  private def agg: Agg = Agg(model.size.toLong, model.keys.sum, model.values.map(e => cents(e.value)).sum)
  private def micros(t: Timestamp): Long = t.getTime / 1000 * 1000000L + t.getNanos / 1000
  private def stamp(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
  private def row(id: Long, e: Ev): Row = Row(id, stamp(e.ts), e.user, e.kind, e.value, e.props)

  override def scratchDirs: Seq[String] = Seq(s"${c.work}/txlog")

  override def reset(spark: SparkSession, setup: Int): Unit = {
    if (source.isEmpty) {
      val df = Tables.load(spark, c.data, "events")
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      schema = df.schema
      source = df.collect().toSeq.map(r => r.getLong(0) ->
        Ev(micros(r.getTimestamp(1)), r.getLong(2), r.getString(3), r.getDouble(4), r.getString(5)))
    }
    base = s"${c.work}/txlog/events_$setup"
    model.clear(); aggAt.clear(); versionOf.clear()
    nextId = source.map(_._1).max + 1
    day = 0
    created = false
  }

  private def published(ctx: OpCtx, v: Long): Unit = {
    versionOf(ctx.op) = v
    aggAt(v) = agg
  }

  private def check(what: String, got: Row, want: Agg): Unit = {
    val g = Agg(got.getLong(0), if (got.isNullAt(1)) 0L else got.getLong(1),
      if (got.isNullAt(2)) 0L else got.getLong(2))
    if (g != want) throw new WrongResult(s"$what: got $g, model $want")
  }

  private def aggregate(df: org.apache.spark.sql.DataFrame): Row =
    df.agg(count(lit(1)), sum(col("event_id")), sum(round(col("value") * 100).cast("long"))).head()

  private def frame(spark: SparkSession, rows: Seq[(Long, Ev)]) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.map { case (id, e) => row(id, e) }.asJava, schema)
  }

  private def newEv(rng: Random): Ev = Ev(
    1706745600000000L + day * 86400000000L + (rng.nextDouble() * 86400000000L).toLong,
    rng.nextInt(1500).toLong, kinds(rng.nextInt(kinds.size)),
    math.round(-math.log(1.0 - rng.nextDouble()) * 5000.0) / 100.0, s"""{"k": ${rng.nextInt(100)}}""")

  private def band(rng: Random): (Long, Long) = {
    val keys = model.keysIterator.toIndexedSeq
    val lo = keys(rng.nextInt(keys.size))
    (lo, lo + 40)
  }

  /** One daily cycle (append, CDC merge, band delete, band update, read)
    * then compact, a time-travel read and history. Every pass holds the
    * same verbs on batches of fixed size (150 appended rows, a merge of 50
    * updates and 20 inserts, 41-key bands); the seed picks the rows,
    * keys and values, drawn when the op runs from an rng seeded by
    * (seed, pass, op). */
  def pass(spark: SparkSession, p: Int): Seq[(String, OpCtx => Unit)] = {
    def rng(i: Int) = new Random(c.seed * 1000003L + p * 101L + i)
    val initial: Seq[(String, OpCtx => Unit)] = if (created) Nil else {
      created = true
      Seq("txlog.commit" -> { (ctx: OpCtx) =>
        source.foreach { case (id, e) => model(id) = e }
        published(ctx, ctx.phase("txlog.commit")(
          TxLog.commit(frame(spark, source), base, None, Some("event_id"))))
      })
    }
    val daily: Seq[(String, OpCtx => Unit)] = Seq(
      "txlog.append" -> { (ctx: OpCtx) =>
        val r = rng(0)
        val rows = (0 until 150).map { _ => nextId += 1; (nextId - 1) -> newEv(r) }
        day += 1
        rows.foreach { case (id, e) => model(id) = e }
        published(ctx, ctx.phase("txlog.append")(TxLog.append(frame(spark, rows), base, Some("event_id"))))
      },
      "txlog.merge" -> { (ctx: OpCtx) =>
        val r = rng(1)
        val keys = r.shuffle(model.keysIterator.toIndexedSeq).take(50)
        val upd = keys.map(id => id -> model(id).copy(value = model(id).value + 0.5, user = r.nextInt(1500).toLong))
        val ins = (0 until 20).map { _ => nextId += 1; (nextId - 1) -> newEv(r) }
        val rows = upd ++ ins
        rows.foreach { case (id, e) => model(id) = e }
        published(ctx, ctx.phase("txlog.merge")(
          TxLog.mergeMorAuto(spark, base, frame(spark, rows), Seq("event_id"))))
      },
      "txlog.delete" -> { (ctx: OpCtx) =>
        val (lo, hi) = band(rng(2))
        (lo to hi).foreach(model.remove)
        published(ctx, ctx.phase("txlog.delete")(
          TxLog.deleteWhereMor(spark, base, col("event_id").between(lo, hi))))
      },
      "txlog.update" -> { (ctx: OpCtx) =>
        val (lo, hi) = band(rng(3))
        (lo to hi).foreach(id => model.get(id).foreach(e => model(id) = e.copy(value = e.value + 1.0)))
        published(ctx, ctx.phase("txlog.update")(TxLog.updateWhereMor(spark, base,
          col("event_id").between(lo, hi), Map("value" -> (col("value") + lit(1.0))))))
      },
      "txlog.read" -> { (ctx: OpCtx) =>
        check("read", ctx.phase("txlog.read")(aggregate(TxLog.read(spark, base))), agg)
      })
    val maintenance: Seq[(String, OpCtx => Unit)] = Seq(
      "txlog.compact" -> { (ctx: OpCtx) =>
        published(ctx, ctx.phase("txlog.compact")(TxLog.compact(spark, base, 5000L, 50000L, Some("event_id"))))
      },
      "txlog.time_travel" -> { (ctx: OpCtx) =>
        val cur = aggAt.keys.max
        val vs = aggAt.keys.filter(_ >= cur - 15).toIndexedSeq.sorted
        val v = vs(rng(4).nextInt(vs.size))
        check(s"readVersion($v)", ctx.phase("txlog.time_travel")(aggregate(TxLog.readVersion(spark, base, v))), aggAt(v))
      },
      "txlog.history" -> { (ctx: OpCtx) =>
        val h = ctx.phase("txlog.history")(TxLog.history(spark, base).collect())
        val top = h.map(_.getAs[Long]("version")).max
        if (top != aggAt.keys.max) throw new WrongResult(s"history: top version $top, expected ${aggAt.keys.max}")
      })
    initial ++ daily ++ maintenance
  }

  override def finish(spark: SparkSession): Seq[(String, OpCtx => Unit)] = Seq(
    "txlog.vacuum" -> { (ctx: OpCtx) =>
      ctx.phase("txlog.vacuum")(TxLog.vacuum(spark, base, 3, 0L))
    })

  /** Final table, row by row, against the model. */
  def verify(spark: SparkSession, dir: String): Seq[String] = {
    val got = TxLog.read(spark, base).select("event_id", "ts", "user_id", "event_type", "value", "props")
      .collect().map(r => r.getLong(0) ->
        Ev(micros(r.getTimestamp(1)), r.getLong(2), r.getString(3), r.getDouble(4), r.getString(5))).toMap
    if (got == model.toMap) Nil
    else {
      val diff = (got.keySet ++ model.keySet).filter(k => got.get(k) != model.get(k)).take(3)
      System.err.println(s"[lakebench] txlog final state differs from model at ${diff.mkString(", ")}")
      Seq("final_state")
    }
  }

  private def sizes(dir: File): Long =
    Option(dir.listFiles()).map(_.map(f => if (f.isDirectory) sizes(f) else f.length).sum).getOrElse(0L)

  override def extra(spark: SparkSession, ops: Seq[OpRec]): Map[String, Double] = {
    val interval = spark.conf.getOption("spark.graft.txlog.checkpointInterval").map(_.toInt).getOrElse(10)
    val all = sizes(new File(base))
    val log = sizes(new File(base, "_log"))
    val rows = math.max(1, model.size).toDouble
    def med(names: String*) = Stats.median(ops.filter(o => names.contains(o.name)).map(_.wall))
    val writes = ops.filter(o => versionOf.contains(o.id))
    val (ckpt, plain) = writes.partition(o => versionOf(o.id) % interval == 0)
    Map(
      "stored_bytes_per_row" -> all / rows,
      "txlog.commit_s" -> Stats.median(plain.filter(o => o.name == "txlog.commit" || o.name == "txlog.append").map(_.wall)),
      "txlog.ckpt_commit_s" -> Stats.median(ckpt.map(_.wall)),
      "txlog.merge_s" -> med("txlog.merge"),
      "txlog.delete_s" -> med("txlog.delete"),
      "txlog.update_s" -> med("txlog.update"),
      "txlog.read_s" -> med("txlog.read"),
      "txlog.time_travel_s" -> med("txlog.time_travel"),
      "txlog.history_s" -> med("txlog.history"),
      "txlog.compact_s" -> med("txlog.compact"),
      "txlog.vacuum_s" -> med("txlog.vacuum"),
      "txlog.write_bytes_per_row" -> (all - log) / rows,
      "txlog.log_bytes" -> log.toDouble,
      "txlog.live_files" -> TxLog.manifest(spark, base, TxLog.latestVersion(spark, base).get)._1.size.toDouble)
  }
}

object TxWorkload {
  /** Per-layer names this workload fills; other workloads report 0. */
  val layerNames: Seq[String] = Seq("txlog.commit_s", "txlog.ckpt_commit_s", "txlog.merge_s",
    "txlog.delete_s", "txlog.update_s", "txlog.read_s", "txlog.time_travel_s", "txlog.history_s",
    "txlog.compact_s", "txlog.vacuum_s", "txlog.jobs_per_commit", "txlog.write_bytes_per_row",
    "txlog.log_bytes", "txlog.live_files")
}
