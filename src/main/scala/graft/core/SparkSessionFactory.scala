package graft.core

import org.apache.spark.sql.SparkSession

/** Object-store (S3/MinIO-compatible) connection settings — the exact
  * surface the reference wires into every session (bronze_to_silver.py:
  * 20-48, query_datalake.py:14-22; keys from config_template.yaml:33-42).
  */
final case class ObjectStoreConfig(
    endpoint: String,
    accessKey: String,
    secretKey: String,
    pathStyleAccess: Boolean = true, // MinIO needs path-style, AWS either
    sslEnabled: Boolean = false,
    fastUpload: Boolean = true,
    committer: String = "directory")

/** Session construction for the lake.
  *
  * The reference builds an ad-hoc session per script with copy-pasted S3A
  * config blocks; this factory is the single place that knows the
  * translation from [[ObjectStoreConfig]] to Spark/Hadoop conf keys, so
  * `Lake(spark, "s3a://bucket/...")` works transparently — `Lake` never
  * needs to know whether `dir` is local or an object store.
  *
  * The hadoop-aws + aws-sdk jars must already be on the cluster classpath
  * (this container has no network and no S3 endpoint, so the wiring is
  * unit-tested at the conf level; the reference pulls the same two jars
  * via spark.jars.packages, bronze_to_silver.py:44).
  */
object SparkSessionFactory {

  /** The S3A conf map (pure — unit-testable without a session). */
  def objectStoreConfs(c: ObjectStoreConfig): Map[String, String] = Map(
    "fs.s3a.endpoint" -> c.endpoint,
    "fs.s3a.access.key" -> c.accessKey,
    "fs.s3a.secret.key" -> c.secretKey,
    "fs.s3a.path.style.access" -> c.pathStyleAccess.toString,
    "fs.s3a.impl" -> "org.apache.hadoop.fs.s3a.S3AFileSystem",
    "fs.s3a.committer.name" -> c.committer,
    "fs.s3a.fast.upload" -> c.fastUpload.toString,
    "fs.s3a.connection.ssl.enabled" -> c.sslEnabled.toString)

  /** Builder for a fresh process (drivers, `main`s): local or cluster
    * master, sensible lake defaults, optional object-store wiring. The
    * default shuffle width comes from `parallelism`, NOT Spark's 200 —
    * callers size it to the cluster (`spark.graft.parallelism` is set so
    * query-internal repartitions agree, see `graft.functions.Scale.par`).
    */
  def builder(
      appName: String,
      master: String,
      parallelism: Int,
      objectStore: Option[ObjectStoreConfig] = None): SparkSession.Builder = {
    val b = SparkSession.builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", parallelism)
      .config("spark.graft.parallelism", parallelism)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.engine.GraftExtensions")
      // uniform from construction (not flipped mid-session by the first
      // events scan): TIMESTAMP(NANOS) parquet surfaces as long nanos,
      // which Lake.events rebuilds into TimestampType
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // write timestamps as INT64 TIMESTAMP(MICROS), not the deprecated
      // 12-byte INT96 Spark still defaults to: it fixes the file format
      // of every timestamp column this session writes to the standard,
      // ordered parquet type other engines read natively; read-side
      // behavior is unchanged (Spark reads both)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    objectStore.fold(b) { c =>
      objectStoreConfs(c).foldLeft(b) { case (bb, (k, v)) =>
        bb.config(s"spark.hadoop.$k", v)
      }
    }
  }

  /** The one construction path for the driver-contract mains (Bench,
    * Verify, Cli, Orchestrator, plan tools): `local[N]` with N from
    * SPARK_GRAFT_CPUS, shuffle AND `spark.graft.parallelism` width = N
    * (so query-internal repartitions agree with the shuffle width — a
    * hand-rolled builder that forgets the latter silently
    * under-partitions on a dynamic-allocation cluster), UTC, no UI,
    * graft extensions injected, WARN logs. */
  def local(appName: String, defaultCpus: Int = 4): SparkSession = {
    val raw = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val cpus = raw.toIntOption.getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$raw'"))
    require(cpus > 0, s"SPARK_GRAFT_CPUS must be positive, got $cpus")
    val spark = builder(appName, s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Wire an object store into an ALREADY-RUNNING session: builder confs
    * only apply at context creation, but Hadoop filesystems read their
    * conf lazily per scheme, so setting hadoopConfiguration at runtime is
    * enough for subsequent `s3a://` reads/writes. */
  def applyObjectStore(spark: SparkSession, c: ObjectStoreConfig): Unit =
    objectStoreConfs(c).foreach { case (k, v) =>
      spark.sparkContext.hadoopConfiguration.set(k, v)
    }
}
