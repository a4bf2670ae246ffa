package graft.sources

import scala.collection.concurrent.TrieMap
import scala.util.Try
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
  *
  * The process infers a table's parquet schema once. Inference is a Spark
  * job per `spark.read.parquet`, and a file's schema cannot change while its
  * files do not, so [[load]] memoises the inferred `StructType` for every
  * session alike. The key is the path, the name, length and modification
  * time of every file under it (Hadoop `FileSystem` status), and the
  * session confs that change what inference returns (`InferenceConfs`); a
  * path keeps only its latest entry. A hit reads with the memoised schema,
  * which launches no job; a path whose status cannot be read is inferred
  * every time. Only the schema is kept, never a DataFrame: every
  * load is a fresh relation with fresh attribute IDs, so self-joins of one
  * table stay correct, and the normalisation below runs on every load.
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

  /** Session confs that change the schema parquet inference returns. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema")

  /** (files under a path, `InferenceConfs` values) */
  private type FileIdentity = (Seq[(String, Long, Long)], Seq[Option[String]])

  /** path -> the identity the schema was inferred at, and the schema; a
    * rewrite or a changed inference conf replaces the path's entry */
  private val schemas = TrieMap.empty[String, (FileIdentity, StructType)]

  /** (name, length, modification time) of every file under `path`, or None
    * when the file system cannot say. Read through `listStatus`, not
    * `listFiles`: the latter builds a `LocatedFileStatus`, whose constructor
    * reads the permissions, and the local file system without its native
    * library reads them by starting an `ls -ld` process per file. */
  private def fileStatus(spark: SparkSession, path: String): Option[Seq[(String, Long, Long)]] =
    Try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def walk(dir: Path): Seq[(String, Long, Long)] = fs.listStatus(dir).toSeq.flatMap { f =>
        if (f.isDirectory) walk(f.getPath)
        else Seq((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      walk(p).sorted
    }.toOption

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val identity = fileStatus(spark, path).map(files =>
      (files, InferenceConfs.map(spark.conf.getOption)))
    val raw = schemas.get(path).collect { case (id, schema) if identity.contains(id) => schema } match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        identity.foreach(id => schemas.put(path, (id, df.schema)))
        df
    }
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
    if (computeHeavy(name) && new java.io.File(path).isFile)
      df.repartition(p) // single-file scan: spread expression work
    else df
  }

  /** Register every table as a temp view so `spark.sql` works against the
    * same names the DuckDB oracle uses. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
