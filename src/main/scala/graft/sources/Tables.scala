package graft.sources

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Star-schema loaders.
  *
  * Mirrors the reference's table-source surface (Flink
  * `flink-table/flink-table-api-java/.../TableEnvironment.java` table
  * registration + `flink-formats/flink-parquet` input format), re-expressed
  * as Spark DataSource V2 parquet reads so Catalyst gets predicate pushdown
  * and column pruning for free.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `documents`/`embeddings` carry the compute-heavy columns (text to
    * shingle/md5, vectors to dot): per-row expression cost dwarfs the scan,
    * so they must be spread across every core. The driver's testdata writes
    * each table as ONE parquet row group, which Spark cannot split — without
    * correction all of that hashing runs on a single core. The relational
    * fact tables are left alone: their per-row work is cheap, shuffles
    * redistribute them anyway, and the extra exchange measurably hurts. On a
    * real many-file deployment the scan is already wide and this repartition
    * is skipped (guard below). */
  private val computeHeavy = Set("documents", "embeddings")

  /** Session values that change what parquet schema inference returns. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive")

  /** Inferred schema per single-file table, keyed by qualified path. The
    * stamp (length, modification time, inference confs) decides whether the
    * entry is still valid; a new stamp replaces it, so there is one entry
    * per path. Only the schema is kept, never the DataFrame: two loads of
    * one table must get distinct expression IDs or self-joins break. */
  private case class Stamp(len: Long, mtime: Long, confs: Seq[Option[String]])
  private val schemas = new ConcurrentHashMap[String, (Stamp, StructType)]()

  /** Reads one table. Spark infers a parquet schema with a one-task job on
    * every `spark.read.parquet`; a single-file table whose stamp is
    * unchanged skips that job and reads with the schema inferred before.
    * Directory inputs keep Spark's inference. */
  private def readParquet(spark: SparkSession, file: String): (DataFrame, Boolean) = {
    val path = new Path(file)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val status =
      try Some(fs.getFileStatus(path)).filter(_.isFile)
      catch { case _: FileNotFoundException => None }
    status match {
      case None => (spark.read.parquet(file), false)
      case Some(st) =>
        val key = fs.makeQualified(path).toString
        val stamp = Stamp(st.getLen, st.getModificationTime,
          inferenceConfs.map(spark.conf.getOption))
        val df = Option(schemas.get(key)).collect { case (`stamp`, s) => s } match {
          case Some(cached) => spark.read.schema(cached).parquet(file)
          case None =>
            val inferred = spark.read.parquet(file)
            schemas.put(key, (stamp, inferred.schema))
            inferred
        }
        (df, true)
    }
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val (raw, singleFile) = readParquet(spark, s"$dir/$name.parquet")
    // Spark 4 cannot read parquet TIMESTAMP(NANOS) natively; sessions set
    // spark.sql.legacy.parquet.nanosAsLong=true, which surfaces `ts` as long
    // nanos. Convert back to a microsecond timestamp (`div` keeps 64-bit
    // integer precision; a double division would lose sub-ms accuracy).
    val legacyNanos =
      if (raw.schema.fields.exists(f => f.name == "ts" && f.dataType == LongType))
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else raw
    // Parquet `timestamp[us]` without the UTC-adjusted flag surfaces as
    // TIMESTAMP_NTZ in Spark 4. The engine (and the DuckDB oracle) run with
    // session TZ = UTC, so casting NTZ -> TIMESTAMP is a pure type
    // normalization with identical instants; without it, every operator that
    // touches the timestamp as a JVM object (CEP scans, unix_micros windows)
    // sees java.time.LocalDateTime instead of java.sql.Timestamp and fails.
    val ntzFields = legacyNanos.schema.fields.filter(_.dataType == TimestampNTZType)
    if (ntzFields.nonEmpty) {
      // The NTZ->TIMESTAMP cast (and Pattern.anyToTs's fixed-UTC
      // LocalDateTime interpretation) is instant-preserving ONLY under a
      // UTC session; fail loudly rather than silently shifting instants.
      val tz = spark.conf.get("spark.sql.session.timeZone")
      require(tz == "UTC",
        s"NTZ timestamp normalization requires spark.sql.session.timeZone=UTC (got $tz)")
    }
    val df = ntzFields.foldLeft(legacyNanos) { (acc, f) =>
      acc.withColumn(f.name, col(f.name).cast(TimestampType))
    }
    val p = spark.sparkContext.defaultParallelism
    if (computeHeavy(name) && singleFile)
      df.repartition(p) // single-file scan: spread expression work
    else df
  }

  /** Register every table as a temp view so `spark.sql` works against the
    * same names the DuckDB oracle uses. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
