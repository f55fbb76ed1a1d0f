package graft.store

import org.apache.spark.sql.SparkSession

/** Cloud object-store wiring — parity with the reference's credential push
  * (`/root/reference/preprocess.py:29-37` sets `AWS_S3_ALLOW_UNSAFE_RENAME`
  * and storage options; `preprocess.py:254-257` ships `AWS_ACCESS_KEY_ID` /
  * `AWS_SECRET_ACCESS_KEY` to every worker via `send_private_envs`).
  *
  * Spark needs none of that machinery: every path in this engine goes
  * through the Hadoop FileSystem API, so `s3a://bucket/...` works anywhere a
  * local path does once the standard S3A configuration is present. This
  * helper maps the same environment variables the reference uses onto the
  * public `fs.s3a.*` keys, and documents the knobs that matter at 100 TB.
  *
  * Unlike the reference's `AWS_S3_ALLOW_UNSAFE_RENAME=true` (needed because
  * delta-rs lacks a locking provider on S3), the engine's commit safety does
  * not depend on rename at all: `TableStore` writes data files in place
  * and commits a table version with one put-if-absent log file (atomic on
  * S3 with conditional writes), and the fetch stage's temp+rename is
  * per-file idempotent, so a lost rename race re-downloads rather than
  * corrupts.
  */
object CloudStorage {

  /** Env var → Hadoop S3A key, the documented public mapping. */
  val EnvToS3aKey: Map[String, String] = Map(
    "AWS_ACCESS_KEY_ID" -> "fs.s3a.access.key",
    "AWS_SECRET_ACCESS_KEY" -> "fs.s3a.secret.key",
    "AWS_SESSION_TOKEN" -> "fs.s3a.session.token",
    "AWS_ENDPOINT_URL" -> "fs.s3a.endpoint",
    "AWS_REGION" -> "fs.s3a.endpoint.region")

  /** Apply S3 credentials/endpoint from environment variables (the
    * reference's exact inputs) to the session's Hadoop configuration.
    * Executors inherit the configuration with the job — no per-worker env
    * push is needed. Returns the keys that were set.
    */
  def applyS3FromEnv(spark: SparkSession,
      env: Map[String, String] = sys.env): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val applied = for ((e, k) <- EnvToS3aKey.toSeq; v <- env.get(e)) yield {
      conf.set(k, v); k
    }
    if (env.contains("AWS_SESSION_TOKEN"))
      conf.set("fs.s3a.aws.credentials.provider",
        "org.apache.hadoop.fs.s3a.TemporaryAWSCredentialsProvider")
    applied.sorted
  }

  /** The scale knobs a 100 TB deployment sets on top of credentials —
    * applied as defaults only where unset, so operator overrides win.
    * Values follow the public Hadoop S3A performance documentation:
    * magic committer (no rename-based commits on S3), larger multipart
    * blocks, and bounded connection fan-out per executor.
    *
    * IMPORTANT: `fs.s3a.committer.name=magic` alone does NOT switch Spark
    * SQL's parquet writes off the rename-based committer — the DataFrame
    * writer picks its committer from `spark.sql.sources.commitProtocolClass`
    * / `spark.sql.parquet.output.committer.class` and never consults the
    * fs key. Those bindings live in the `spark-hadoop-cloud` module
    * (`PathOutputCommitProtocol` + `BindingParquetOutputCommitter`), so
    * they are applied only when that module is on the classpath (it is not
    * in this offline build); without it the fs key is inert for SQL writes
    * and S3 commits stay O(files) copy-renames.
    */
  def applyS3ScaleDefaults(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    // "unset" must see through Hadoop's shipped core-default.xml values
    // (e.g. committer.name defaults to "file"): a key counts as
    // operator-set only if some NON-default source provided it.
    def operatorSet(k: String): Boolean =
      Option(conf.getPropertySources(k))
        .exists(_.exists(s => !s.contains("core-default.xml")))
    Seq(
      "fs.s3a.committer.name" -> "magic",
      "fs.s3a.block.size" -> "128M",
      "fs.s3a.multipart.size" -> "128M",
      "fs.s3a.connection.maximum" -> "96",
      "fs.s3a.fast.upload" -> "true"
    ).foreach { case (k, v) => if (!operatorSet(k)) conf.set(k, v) }
    // bind the SQL writer to the cloud committer iff spark-hadoop-cloud is
    // present — setting the class names without the jar would break every
    // parquet write with ClassNotFoundException
    val protocol = "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
    val binding =
      "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
    val cloudModulePresent =
      try { Class.forName(protocol); true }
      catch { case _: ClassNotFoundException => false }
    if (cloudModulePresent) {
      if (spark.conf.getOption("spark.sql.sources.commitProtocolClass").isEmpty)
        spark.conf.set("spark.sql.sources.commitProtocolClass", protocol)
      if (spark.conf.getOption("spark.sql.parquet.output.committer.class").isEmpty)
        spark.conf.set("spark.sql.parquet.output.committer.class", binding)
    }
  }
}
