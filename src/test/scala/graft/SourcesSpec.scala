package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.util.Try
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

/** §2.8 — sources & sinks: CSV/JSON/text round-trips, partitioned parquet
  * with partition pruning, rate source, foreachBatch idempotent sink. */
class SourcesSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._
  private implicit def sqlCtx = spark.sqlContext

  private def tmp() = Files.createTempDirectory("graft_src").toString

  test("Tables.load reads every star-schema table") {
    Tables.all.foreach { n => assert(Tables.load(spark, sfDir, n).count() > 0, n) }
  }

  test("data contract: timestamp columns surface as TIMESTAMP, never NTZ or long") {
    // The r9 testdata regeneration flipped events.ts to parquet timestamp[us]
    // without the UTC flag (Spark: TIMESTAMP_NTZ) and silently crashed 10 CEP
    // queries. Pin the loader's normalization so any future physical-type
    // drift fails here in one second instead of at the driver's gate.
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType, LongType}
    Tables.all.foreach { n =>
      val schema = Tables.load(spark, sfDir, n).schema
      schema.fields.filter(f =>
          f.name == "ts" || f.dataType == TimestampNTZType).foreach { f =>
        assert(f.dataType == TimestampType,
          s"$n.${f.name}: expected TIMESTAMP, got ${f.dataType} — Tables.load " +
            "must normalize (nanos-as-long and TIMESTAMP_NTZ both break CEP row access)")
        assert(f.dataType != LongType && f.dataType != TimestampNTZType)
      }
    }
  }

  /** Spark jobs `body` starts, counted by a listener. Events reach the
    * listener on the listener bus thread, so a marker job run after `body`
    * shows when every job `body` started has been seen. */
  private def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val started = new AtomicInteger()
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("graft.test.span"))) match {
          case Some("body") => started.incrementAndGet()
          case Some("marker") => markerSeen.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.test.span", "body")
      body
      sc.setLocalProperty("graft.test.span", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "marker job never reached the listener")
      started.get
    } finally {
      sc.setLocalProperty("graft.test.span", null)
      sc.removeSparkListener(listener)
    }
  }

  /** Writes `df` as ONE parquet file at `file`, the shape of every table in
    * the test data. */
  private def writeSingleFile(df: DataFrame, file: String): Unit = {
    val staging = tmp()
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new java.io.File(staging).listFiles
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, Paths.get(file), StandardCopyOption.REPLACE_EXISTING)
  }

  test("Tables.load infers a file's schema once: a second load starts no Spark job") {
    val d = tmp()
    writeSingleFile(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), s"$d/t.parquet")
    assert(jobsStartedBy(Tables.load(spark, d, "t")) > 0,
      "the first load should run Spark's schema inference job")
    assert(jobsStartedBy(Tables.load(spark, d, "t")) == 0,
      "a second load of an unchanged file must reuse the inferred schema")
  }

  test("Tables.load picks up a file rewritten at the same path with a new schema") {
    val d = tmp()
    writeSingleFile(Seq((1L, "a")).toDF("k", "v"), s"$d/t.parquet")
    assert(Tables.load(spark, d, "t").columns.toSeq == Seq("k", "v"))
    writeSingleFile(Seq((2, 3.5, "x")).toDF("id", "score", "tag"), s"$d/t.parquet")
    val again = Tables.load(spark, d, "t")
    assert(again.columns.toSeq == Seq("id", "score", "tag"))
    assert(again.as[(Int, Double, String)].collect().toSeq == Seq((2, 3.5, "x")))
  }

  test("Tables.load follows spark.sql.legacy.parquet.nanosAsLong between loads") {
    // Spark cannot write TIMESTAMP(NANOS); write it with parquet's own writer
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val d = tmp()
    val file = s"$d/t.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int32 id; required int64 ts_ns (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new Path(file)).withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("id", 1).append("ts_ns", 1700000000123456789L))
    finally w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    // what plain Spark inference gives under the current conf: the schema,
    // or the error class it fails with
    def outcome(df: => DataFrame): Either[String, String] =
      Try(df.schema.simpleString).toEither.left.map {
        case e: org.apache.spark.SparkThrowable => e.getCondition
        case e => throw e
      }
    val prior = spark.conf.get(key)
    try {
      for (flag <- Seq("true", "false", "true")) {
        spark.conf.set(key, flag)
        val loaded = outcome(Tables.load(spark, d, "t"))
        assert(loaded == outcome(spark.read.parquet(file)), s"nanosAsLong=$flag")
        if (flag == "true") assert(loaded == Right("struct<id:int,ts_ns:bigint>"))
      }
    } finally spark.conf.set(key, prior)
  }

  test("Tables.load returns the same rows and schema from the memo as from inference") {
    // a directory input is never memoized: the same file inside a directory
    // named like the table is loaded through Spark's inference every time
    val d = tmp()
    Tables.all.foreach { n =>
      Files.createDirectories(Paths.get(s"$d/$n.parquet"))
      Files.copy(Paths.get(s"$sfDir/$n.parquet"), Paths.get(s"$d/$n.parquet/part-0.parquet"))
      Tables.load(spark, sfDir, n)
      val memo = Tables.load(spark, sfDir, n)
      val inferred = Tables.load(spark, d, n)
      assert(memo.schema == inferred.schema, n)
      assert(memo.collect().map(_.toString).sorted.toSeq ==
        inferred.collect().map(_.toString).sorted.toSeq, n)
    }
  }

  test("csv/json/text round-trip") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val d = tmp()
    df.write.option("header", "true").csv(s"$d/csv")
    df.write.json(s"$d/json")
    df.select($"s").write.text(s"$d/text")
    assert(spark.read.option("header", "true").csv(s"$d/csv").count() == 2)
    assert(spark.read.json(s"$d/json").count() == 2)
    assert(spark.read.text(s"$d/text").count() == 2)
  }

  test("orc round-trip with predicate pushdown") {
    val d = tmp()
    Tables.load(spark, sfDir, "orders").write.orc(s"$d/orders_orc")
    val back = spark.read.orc(s"$d/orders_orc").filter($"o_orderkey" === 1L)
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("o_orderkey"),
      s"expected ORC filter pushdown:\n$plan")
    assert(spark.read.orc(s"$d/orders_orc").count() ==
      Tables.load(spark, sfDir, "orders").count())
  }

  test("partitioned parquet sink prunes partitions on read") {
    val d = tmp()
    Tables.load(spark, sfDir, "orders")
      .write.partitionBy("o_orderstatus").parquet(s"$d/orders_p")
    val scan = spark.read.parquet(s"$d/orders_p").filter($"o_orderstatus" === "F")
    val plan = scan.queryExecution.executedPlan.toString
    assert(scan.count() > 0)
    assert(plan.contains("PartitionFilters") && plan.contains("o_orderstatus"),
      s"expected partition pruning:\n$plan")
  }

  test("rate source streams rows") {
    val q = spark.readStream.format("rate").option("rowsPerSecond", "50").load()
      .writeStream.format("memory").queryName("rate_t").start()
    try {
      Thread.sleep(1500); q.processAllAvailable()
      assert(spark.table("rate_t").count() > 0)
    } finally q.stop()
  }

  test("streaming parquet sink recovers exactly-once from its checkpoint") {
    val d = tmp()
    val in = MemoryStream[Long]
    def start() = in.toDS().toDF("v").writeStream.format("parquet")
      .option("path", s"$d/out").option("checkpointLocation", s"$d/ck").start()
    val q1 = start()
    in.addData(1L, 2L, 3L); q1.processAllAvailable(); q1.stop()
    val q2 = start() // restart against the same checkpoint
    in.addData(4L, 5L); q2.processAllAvailable(); q2.stop()
    val vals = spark.read.parquet(s"$d/out").selectExpr("v").as[Long].collect().sorted.toSeq
    assert(vals == Seq(1L, 2L, 3L, 4L, 5L), "committed batches must not re-emit on restart")
  }

  test("file-monitoring source picks up files as they land (PROCESS_CONTINUOUSLY analog)") {
    // reference StreamExecutionEnvironment#readFile(FileProcessingMode
    // .PROCESS_CONTINUOUSLY): a directory is a stream; new files become new
    // micro-batches. Spark: readStream over the directory.
    val d = tmp()
    spark.range(3).toDF("v").write.parquet(s"$d/in") // initial backlog
    val stream = spark.readStream.schema("v LONG").parquet(s"$d/in")
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("file_stream_t").start()
    try {
      q.processAllAvailable()
      assert(spark.table("file_stream_t").count() == 3, "backlog files read first")
      // a NEW file landing after the query started becomes a later batch
      spark.range(10, 12).toDF("v").write.mode("append").parquet(s"$d/in")
      q.processAllAvailable()
      val vals = spark.table("file_stream_t").as[Long].collect().sorted.toSeq
      assert(vals == Seq(0L, 1L, 2L, 10L, 11L), s"got $vals")
    } finally q.stop()
  }

  test("foreachBatch idempotent sink (exactly-once pattern)") {
    val in = MemoryStream[Long]
    val seen = scala.collection.concurrent.TrieMap[Long, Long]()
    val q = in.toDS().writeStream.foreachBatch { (batch: org.apache.spark.sql.Dataset[Long], id: Long) =>
      // idempotent upsert keyed by batchId — replays overwrite, not duplicate
      seen.put(id, batch.count())
      ()
    }.start()
    in.addData(1L, 2L, 3L)
    q.processAllAvailable(); q.stop()
    assert(seen.values.sum == 3)
  }
}
