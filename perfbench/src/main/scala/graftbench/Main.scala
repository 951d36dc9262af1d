package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One benchmark run of one workload, as a separate JVM.
  *
  * `Main --workload W --seed N --seconds S --trace 0|1 --data DIR --out FILE
  *  --cores C [--results DIR] [--corrupt OP]`
  *
  * Set-up (session, one untimed warm pass that also fixes each operation's
  * expected output) is followed by closed-loop passes over the workload's
  * operations, in a seed-permuted order, until `S` seconds have passed and
  * at least one pass is complete. Every timed operation's output is checked
  * against the warm pass outside the timed span; the warm outputs are
  * written under `--results` for the DuckDB oracle check done by run.py.
  * `--corrupt OP` replaces OP's expected fingerprint, for the self-test.
  * The raw per-operation record goes to `--out` as JSON; run.py turns it
  * into metrics. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, out: String, cores: Int, results: Option[String],
                        corrupt: Option[String])

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("out"), m("cores").toInt, m.get("results"), m.get("corrupt"))
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val args = parse(argv)
    val spark = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Record(args, jvmStartMs)
    val workload: Workload = args.workload match {
      case "stream_cep" => new StreamWorkload(spark, args, rec)
      case w => new BatchWorkload(spark, args, rec, Workloads.batch(w))
    }
    try {
      workload.warm()
      rec.setupDone()
      val deadline = System.nanoTime() + (args.seconds * 1e9).toLong
      // a traced run needs a traced and an untraced pass
      val minPasses = if (args.trace) 2 else 1
      var pass = 0
      var done = false
      while (!done) {
        // traced runs alternate traced and untraced passes, starting traced,
        // so one run gives both sides of the tracing overhead
        val traced = args.trace && pass % 2 == 0
        val order = new scala.util.Random(args.seed * 1000003L + pass).shuffle(workload.ops)
        val it = order.iterator
        while (it.hasNext && !(pass >= minPasses && System.nanoTime() > deadline))
          workload.run(it.next(), pass, traced)
        pass += 1
        done = pass >= minPasses && System.nanoTime() > deadline
      }
      workload.finish()
    } finally {
      rec.write()
      spark.stop()
    }
  }
}

/** What one workload must provide to the run loop. */
trait Workload {
  def ops: Seq[String]
  def warm(): Unit
  def run(op: String, pass: Int, traced: Boolean): Unit
  def finish(): Unit = ()
}

/** CPU time the hypervisor gave to other guests while this VM's vCPUs
  * could have run ("steal" in /proc/stat). On a shared host it stretches
  * every wall-clock time by a factor that has nothing to do with the
  * program, so the benchmark reports each time with that share taken out:
  * wall × (1 − steal / all CPU time) over the same interval. Where
  * /proc/stat is missing the share is 0. */
object Steal {
  final case class Sample(steal: Long, total: Long)
  def sample(): Sample =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), StandardCharsets.US_ASCII)
        .linesIterator.next().trim.split("\\s+").slice(1, 9).map(_.toLong)
      Sample(f(7), f.sum)
    } catch { case _: Throwable => Sample(0L, 0L) }
  def share(a: Sample, b: Sample): Double =
    if (b.total > a.total) (b.steal - a.steal).toDouble / (b.total - a.total) else 0.0
  /** `seconds` measured from `a` to `b`, without the stolen share. */
  def excluded(seconds: Double, a: Sample, b: Sample): Double = seconds * (1.0 - share(a, b))
}

/** Output fingerprints. Columns are taken in name order and rows in sorted
  * order; floating values are rounded at 9 decimals so that a different
  * summation order inside Spark does not read as a different answer. */
object Canon {
  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => b.setScale(9, java.math.RoundingMode.HALF_EVEN).stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => value(k) + "->" + value(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case x => x.toString
  }
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_EVEN).bigDecimal.stripTrailingZeros.toPlainString

  def fingerprint(names: Seq[String], rows: Array[Row]): String = {
    val order = names.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => value(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(names).mkString(",").getBytes(StandardCharsets.UTF_8))
    lines.foreach { l => md.update(l.getBytes(StandardCharsets.UTF_8)); md.update(10.toByte) }
    md.digest().take(12).map("%02x".format(_)).mkString
  }
}

/** Accumulates the run's raw record and writes it as one JSON document. */
final class Record(args: Main.Args, jvmStartMs: Double) {
  private val ops = ArrayBuffer.empty[String]
  private val triggers = ArrayBuffer.empty[String]
  private val spans = ArrayBuffer.empty[String]
  private val expected = scala.collection.mutable.LinkedHashMap.empty[String, String]
  private val warmErrors = scala.collection.mutable.LinkedHashMap.empty[String, String]
  private val oracles = scala.collection.mutable.LinkedHashMap.empty[String, String]
  private var setupS = Double.NaN

  private val startSteal = Steal.sample()
  def setupDone(): Unit =
    setupS = Steal.excluded((System.currentTimeMillis() - jvmStartMs) / 1e3, startSteal, Steal.sample())

  def expect(op: String, fp: String): Unit =
    expected(op) = if (args.corrupt.contains(op)) "0" * fp.length else fp
  def expectedOf(op: String): Option[String] = expected.get(op)
  def warmError(op: String, e: Throwable): Unit = {
    warmErrors(op) = e.toString
    System.err.println(s"[perfbench] warm $op failed: $e")
  }
  def oracle(op: String, sql: String): Unit = oracles(op) = sql

  def op(name: String, pass: Int, traced: Boolean, wallS: Double, stealShare: Double, ok: Boolean,
         error: Option[String], layers: Map[String, Double], opSpans: Seq[Span]): Unit = {
    System.err.println(f"[perfbench] pass $pass%d $name%s $wallS%.3f s ok=$ok%s")
    ops += Json.obj("name" -> Json.str(name), "pass" -> pass.toString, "traced" -> traced.toString,
      "wall_s" -> Json.num(wallS), "steal_share" -> Json.num(stealShare), "ok" -> ok.toString,
      "error" -> error.map(Json.str).getOrElse("null"),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*))
    opSpans.foreach { s =>
      spans += Json.obj("op" -> Json.str(name), "pass" -> pass.toString, "id" -> s.id.toString,
        "parent" -> s.parent.toString, "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
        "start" -> Json.num(s.start), "end" -> Json.num(s.end))
    }
  }
  def trigger(op: String, pass: Int, ms: Double): Unit =
    triggers += Json.obj("op" -> Json.str(op), "pass" -> pass.toString, "ms" -> Json.num(ms))

  private def peakRssMb(): Double =
    try {
      val l = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      l.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => Double.NaN }

  def write(): Unit = {
    val doc = Json.obj(
      "workload" -> Json.str(args.workload), "seed" -> args.seed.toString,
      "cores" -> args.cores.toString, "setup_s" -> Json.num(setupS),
      "peak_rss_mb" -> Json.num(peakRssMb()),
      "expected" -> Json.obj(expected.toSeq.map { case (k, v) => k -> Json.str(v) }: _*),
      "warm_errors" -> Json.obj(warmErrors.toSeq.map { case (k, v) => k -> Json.str(v) }: _*),
      "oracles" -> Json.obj(oracles.toSeq.map { case (k, v) => k -> Json.str(v) }: _*),
      "ops" -> ops.mkString("[", ",\n", "]"),
      "triggers" -> triggers.mkString("[", ",\n", "]"),
      "spans" -> spans.mkString("[", ",\n", "]"))
    Files.write(Paths.get(args.out), doc.getBytes(StandardCharsets.UTF_8))
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= "\\u%04x".format(c.toInt)
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** A batch workload: each operation is one `SparkEntry.queries` function,
  * timed from its call (the build, where eager supersteps run) through
  * `collect()` of its result. */
final class BatchWorkload(spark: SparkSession, args: Main.Args, rec: Record,
                          queries: Seq[(String, (SparkSession, String) => DataFrame)])
    extends Workload {
  private val fns = queries.toMap
  val ops: Seq[String] = queries.map(_._1)
  private val collector = new Collector(spark, args.cores)
  private val warmRows = scala.collection.mutable.LinkedHashMap.empty[String, (org.apache.spark.sql.types.StructType, Array[Row])]

  /** Untimed, after each operation: what one query left cached or
    * checkpointed must not weigh on the next one. */
  private def sweep(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def warm(): Unit = {
    val oracleSql = graft.SparkEntry.oracleSql
    ops.foreach(op => oracleSql.get(op).foreach(rec.oracle(op, _)))
    val order = new scala.util.Random(args.seed * 1000003L - 1).shuffle(ops)
    order.foreach { op =>
      try {
        val t0 = System.nanoTime()
        val df = fns(op)(spark, args.data)
        val rows = df.collect()
        System.err.println(f"[perfbench] warm $op%s ${(System.nanoTime() - t0) / 1e9}%.3f s")
        rec.expect(op, Canon.fingerprint(df.schema.fieldNames.toSeq, rows))
        warmRows(op) = (df.schema, rows)
      } catch { case e: Throwable => rec.warmError(op, e) }
      sweep()
    }
  }

  def run(op: String, pass: Int, traced: Boolean): Unit = {
    val sc = spark.sparkContext
    if (traced) {
      org.apache.spark.perfbench.Bus.drain(sc)
      collector.install(); collector.begin()
    }
    val steal0 = Steal.sample()
    val startMs = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    var buildMs = startMs
    var result: Either[Throwable, (Seq[String], Array[Row])] = null
    try {
      val df = fns(op)(spark, args.data)
      buildMs = startMs + (System.nanoTime() - t0) / 1e6
      result = Right((df.schema.fieldNames.toSeq, df.collect()))
    } catch { case e: Throwable => result = Left(e) }
    val wallS = (System.nanoTime() - t0) / 1e9
    val steal1 = Steal.sample()
    val endMs = startMs + wallS * 1e3
    val (ok, err, rows) = result match {
      case Right((names, rs)) =>
        val fp = Canon.fingerprint(names, rs)
        val want = rec.expectedOf(op)
        (want.contains(fp), if (want.contains(fp)) None else Some(s"fingerprint $fp, expected ${want.getOrElse("none")}"), rs.length.toLong)
      case Left(e) => (false, Some(e.toString), 0L)
    }
    val cached = sc.getRDDStorageInfo.filter(_.isCached)
    val cache = Map("cache.rdds_left" -> sc.getPersistentRDDs.size.toDouble,
      "cache.mb_left" -> cached.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0))
    sweep()
    val (layers, spans) =
      if (traced) {
        org.apache.spark.perfbench.Bus.drain(sc)
        collector.uninstall()
        collector.take(op, startMs, buildMs, endMs, rows)
      } else (Map.empty[String, Double], Nil)
    rec.op(op, pass, traced, Steal.excluded(wallS, steal0, steal1), Steal.share(steal0, steal1),
      ok, err, layers ++ cache, spans)
  }

  /** Writes each warm output as parquet for the oracle check. */
  override def finish(): Unit = args.results.foreach { dir =>
    warmRows.foreach { case (op, (schema, rows)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$op")
    }
  }
}

/** The batch workloads. Each is a fixed name rule over `SparkEntry.queries`:
  * a family, then every k-th query of it in name order starting with the
  * first, with k set so one warm pass fits the run length on 4 cores. */
object Workloads {
  def batch(name: String): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = graft.SparkEntry.queries.toSeq.sortBy(_._1)
    def family(prefixes: String*) = all.filter { case (n, _) => prefixes.exists(n.startsWith) }
    def every[A](k: Int, xs: Seq[A]) = xs.zipWithIndex.collect { case (x, i) if i % k == 0 => x }
    name match {
      // TPC-H and MATCH_RECOGNIZE: deep plans, few jobs each
      case "sql_batch" => every(9, family("h", "m"))
      // superstep loops: tens of short jobs each
      case "graph_iter" =>
        every(3, family("i01_", "i02_", "i03_", "i04_", "i06_", "i09_", "i11_", "i22_", "i23_"))
      // text and vector operators; not one of the measured workloads (see
      // BENCHMARK.json), kept for traced analysis runs
      case "llm_dedup" => every(2, family("d", "e", "p", "s", "t"))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
  }
}
