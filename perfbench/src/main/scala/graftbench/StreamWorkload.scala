package graftbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.cep.{MatchRecognize, Pattern}
import graft.sources.Tables
import graft.streaming.{Event, StreamOps}

/** One delivered event. */
final case class Ev(event_id: Long, user_id: Long, ts: Timestamp, event_type: String, value: Double)

/** `stream_cep`: the `events` table replayed in event-time order through a
  * MemoryStream into each of five streaming queries in turn, as a closed
  * loop. One driver thread appends a fixed-size micro-batch and waits for
  * its commit before appending the next, so a trigger's latency is append to
  * commit. The seed picks which events are delivered twice and how late
  * each copy is delivered. Each operation is one query draining
  * the whole delivery; its output is checked against its batch twin over
  * the same delivered events. */
final class StreamWorkload(spark: SparkSession, args: Main.Args, rec: Record) extends Workload {
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val Watermark = "10 minutes"
  private val JitterMs = 5 * 60 * 1000L
  private val RedeliveredShare = 0.02

  private val delivery: Seq[Seq[Ev]] = {
    val evs = Tables.load(spark, args.data, "events")
      .select("event_id", "user_id", "ts", "event_type", "value").as[Ev].collect()
      .sortBy(_.ts.getTime)
    val rnd = new scala.util.Random(args.seed)
    val copies = evs.toSeq ++ evs.filter(_ => rnd.nextDouble() < RedeliveredShare)
    // each copy is delivered at its event time plus up to half the watermark
    // delay: out of order, also across micro-batch boundaries, but never
    // behind the watermark of the micro-batch that carries it
    val ordered = copies.map(e => (e.ts.getTime + (rnd.nextDouble() * JitterMs).toLong, e))
      .sortBy(_._1).map(_._2)
    val batches = ordered.grouped(math.ceil(ordered.length / StreamWorkload.DataBatches.toDouble).toInt).toSeq
    // a final event a day past the last one advances the watermark past
    // every open window, so every result is emitted before the drain ends
    batches :+ Seq(Ev(-1L, -1L, new Timestamp(evs.last.ts.getTime + 86400000L), "zz_flush", 0.0))
  }
  private val delivered: DataFrame = delivery.flatten.toDF()
  /** The warm replay takes every query through the same steps (start,
    * first state, watermark-driven emission, stop) on a tenth of a
    * micro-batch, so set-up does not pay for a whole replay per query. */
  private val warmDelivery: Seq[Seq[Ev]] = Seq(delivery.head.take(delivery.head.size / 10), delivery.last)

  private def asEvents(df: DataFrame): Dataset[Event] =
    df.select($"user_id", $"ts", $"event_type", $"value", lit("").as("skey")).as[Event]

  private val steps: Seq[Event => Boolean] =
    Seq(_.event_type == "view", _.event_type == "click", _.event_type == "purchase")
  private val WithinMs = 3600 * 1000L
  private val NestedGroupSql =
    """MATCH_RECOGNIZE (
      |  PARTITION BY user_id ORDER BY ts
      |  MEASURES S.ts AS signup_ts, FIRST(B.ts) AS grp_first_ts,
      |           LAST(V.ts) AS grp_last_ts, COUNT(V.ts) AS n_reps,
      |           COUNT(B.ts) AS n_inner
      |  PATTERN (S ((B C)+ V)+)
      |  WITHIN INTERVAL '4' HOUR
      |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
      |         C AS event_type = 'view', V AS event_type = 'error'
      |)""".stripMargin

  private def join(in: DataFrame): DataFrame = {
    val views = in.filter($"event_type" === "view").select("event_id", "user_id", "ts")
    val buys = in.filter($"event_type" === "purchase").select("event_id", "user_id", "ts")
    StreamOps.streamStreamIntervalJoin(views, buys, Watermark, Watermark, "30 minutes")
      .select(col("l.event_id").as("view_id"), col("r.event_id").as("purchase_id"))
  }

  /** Each query as (name, streaming build, batch twin). */
  private val queries: Seq[(String, DataFrame => DataFrame, DataFrame => DataFrame)] = Seq(
    ("sessionize",
      in => StreamOps.sessionize(asEvents(in), Watermark, 30 * 60 * 1000L).toDF(),
      b => b.groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"), sum($"value").as("sum_value"))
        .select($"user_id", $"w.start".as("session_start"), $"w.end".as("session_end"),
          $"n", $"sum_value")),
    ("dedup_within_watermark",
      in => StreamOps.dedupWithinWatermark(in, Watermark, Seq("event_id"))
        .select("event_id", "user_id", "ts", "event_type", "value"),
      b => b.dropDuplicates("event_id")),
    ("interval_join", join, join),
    ("cep_pattern",
      in => StreamOps.cepPattern(asEvents(in), Watermark, steps, WithinMs).toDF()
        .select($"user_id", $"step_ts"(0).as("t0"), $"step_ts"(1).as("t1"), $"step_ts"(2).as("t2")),
      b => Pattern.begin("a", $"event_type" === "view")
        .followedBy("b", $"event_type" === "click")
        .followedBy("c", $"event_type" === "purchase")
        .within(WithinMs).detect(b, $"user_id", $"ts")
        .select($"key".as("user_id"), $"a_ts".as("t0"), $"b_ts".as("t1"), $"c_ts".as("t2"))),
    ("match_recognize",
      in => MatchRecognize.detectStream(in.withWatermark("ts", Watermark), NestedGroupSql),
      b => MatchRecognize.detect(b, NestedGroupSql)))
  private val byName = queries.map(q => q._1 -> q).toMap
  val ops: Seq[String] = queries.map(_._1)
  private val collector = new Collector(spark, args.cores)

  /** What is compared of a query's output, on both sides: the flush
    * event's own session never closes in the stream, so it is left out; and
    * the streaming operators keep event time in milliseconds, as Flink
    * does, while the batch twins keep the table's microseconds, so
    * timestamps are compared at millisecond precision. */
  private def compared(df: DataFrame): DataFrame = {
    val kept = if (df.columns.contains("user_id")) df.filter($"user_id" =!= -1L) else df
    kept.select(kept.schema.fields.toSeq.map { f =>
      if (f.dataType == org.apache.spark.sql.types.TimestampType)
        date_trunc("MILLISECOND", col(f.name)).as(f.name)
      else col(f.name)
    }: _*)
  }

  private val twinRows = scala.collection.mutable.Map.empty[String, Int]

  def warm(): Unit = ops.foreach { op =>
    try {
      val t = compared(byName(op)._3(delivered))
      val rows = t.collect()
      twinRows(op) = rows.length
      rec.expect(op, Canon.fingerprint(t.columns.toSeq, rows))
      drain(op, -1, traced = false, warmDelivery)
    } catch { case e: Throwable => rec.warmError(op, e) }
  }

  def run(op: String, pass: Int, traced: Boolean): Unit = drain(op, pass, traced, delivery)

  /** Starts the query on a fresh source and replays `batches`. */
  private def drain(op: String, pass: Int, traced: Boolean, batches: Seq[Seq[Ev]]): Unit = {
    val sc = spark.sparkContext
    val table = s"${op}_p${pass + 1}"
    if (traced) {
      org.apache.spark.perfbench.Bus.drain(sc)
      collector.install(); collector.begin()
    }
    val steal0 = Steal.sample()
    val startMs = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    var buildMs = startMs
    var drainedNs = 0L
    var steal1 = steal0
    var progress = Array.empty[StreamingQueryProgress]
    val error: Option[String] =
      try {
        val in = MemoryStream[Ev]
        val q = byName(op)._2(in.toDF()).writeStream.format("memory").queryName(table)
          .outputMode("append").start()
        buildMs = startMs + (System.nanoTime() - t0) / 1e6
        try {
          batches.foreach { b =>
            val sa = Steal.sample()
            val a = System.nanoTime()
            in.addData(b)
            q.processAllAvailable()
            val ms = (System.nanoTime() - a) / 1e6
            if (pass >= 0) rec.trigger(op, pass, Steal.excluded(ms, sa, Steal.sample()))
          }
          drainedNs = System.nanoTime()
          steal1 = Steal.sample()
        } finally q.stop()
        progress = q.recentProgress
        None
      } catch { case e: Throwable => Some(e.toString) }
    // the drain ends at the last commit; stopping the query is not timed
    val wallS = ((if (drainedNs > 0) drainedNs else System.nanoTime()) - t0) / 1e9
    val endMs = startMs + wallS * 1e3
    if (pass < 0) { if (error.isEmpty) spark.catalog.dropTempView(table); return }
    val (ok, err, rows) = error.map(e => (false, Some(e), 0L)).getOrElse {
      val out = compared(spark.table(table))
      val rs = out.collect()
      val fp = Canon.fingerprint(out.columns.toSeq, rs)
      val good = rec.expectedOf(op).contains(fp)
      (good, if (good) None else Some(s"${rs.length} rows, batch twin ${twinRows.getOrElse(op, -1)} rows, fingerprints differ"), rs.length.toLong)
    }
    if (error.isEmpty) spark.catalog.dropTempView(table)
    val (layers, spans) =
      if (traced) {
        org.apache.spark.perfbench.Bus.drain(sc)
        collector.uninstall()
        collector.take(op, startMs, buildMs, endMs, rows)
      } else (Map.empty[String, Double], Nil)
    rec.op(op, pass, traced, Steal.excluded(wallS, steal0, steal1), Steal.share(steal0, steal1),
      ok, err, layers ++ StreamWorkload.progressLayers(progress), spans)
  }
}

object StreamWorkload {
  /** Micro-batches the events are split into, before the flush. */
  val DataBatches = 2

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }

  /** Per-query streaming layer numbers from the query's own progress
    * reports: durations summed over its triggers, state size as the median
    * over triggers. */
  def progressLayers(ps: Array[StreamingQueryProgress]): Map[String, Double] = {
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def state(p: StreamingQueryProgress, f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      p.stateOperators.map(f).sum
    def lagS(p: StreamingQueryProgress): Option[Double] = {
      val et = p.eventTime
      for (mx <- Option(et.get("max")); wm <- Option(et.get("watermark")))
        yield (java.time.Instant.parse(mx).toEpochMilli - java.time.Instant.parse(wm).toEpochMilli) / 1e3
    }
    val withData = ps.filter(_.numInputRows > 0)
    Map(
      "streaming.triggers" -> ps.length.toDouble,
      "streaming.add_batch_ms" -> ps.map(dur(_, "addBatch")).sum,
      "streaming.planning_ms" -> ps.map(dur(_, "queryPlanning")).sum,
      "streaming.wal_commit_ms" -> ps.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")).sum,
      "streaming.offset_ms" -> ps.map(p => dur(p, "latestOffset") + dur(p, "getBatch")).sum,
      "streaming.state_rows" -> median(ps.map(state(_, _.numRowsTotal.toDouble)).toSeq),
      "streaming.state_mb" -> median(ps.map(state(_, _.memoryUsedBytes.toDouble)).toSeq) / (1024.0 * 1024.0),
      "streaming.state_updated" -> ps.map(state(_, _.numRowsUpdated.toDouble)).sum,
      "streaming.state_commit_ms" -> ps.map(state(_, _.commitTimeMs.toDouble)).sum,
      "streaming.late_dropped" -> ps.map(state(_, _.numRowsDroppedByWatermark.toDouble)).sum,
      "streaming.watermark_lag_s" -> median(withData.flatMap(lagS).toSeq))
  }
}
