package graft.store

import java.io.FileNotFoundException
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker, FileFormatWriter, FileStatusCache, HadoopFsRelation, InMemoryFileIndex, PartitionPath, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{array, col, concat, concat_ws, lit, size, sum, when}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.util.SerializableConfiguration

/** Date-partitioned Parquet table store with a transaction log (S4/S6/S7/
  * S8/S9 in SURVEY.md §2.1).
  *
  * The reference stores curated tables in Delta Lake: append per hourly
  * batch, partitioned by `date`, with `optimize.compact()` + `vacuum()`
  * (`preprocess.py:165-206`). No Delta jars ship with this
  * Spark, so the store keeps Delta's one mechanism itself: an append-only
  * log per table, `dir/_log/<version>.json` (protocol:
  * github.com/delta-io/delta PROTOCOL.md, reduced to what the store uses).
  *
  *  - COMMIT. Every write is one version: the files it adds (path, `date`
  *    value, bytes, rows) and the files it removes, plus the schema when it
  *    sets one. Data files are written straight to their final place under
  *    `dir/date=<d>/` by a commit protocol that never renames; they are
  *    invisible until the version naming them exists. The version file is
  *    created put-if-absent ([[atomicCreate]]), so exactly one writer owns
  *    each version.
  *  - READ. A reader replays the latest checkpoint plus the later versions
  *    and plans from that file list: no data directory is listed and no
  *    listing job runs. Partition values come from the log, so partition
  *    pruning and DPP work as on a plain partitioned directory.
  *  - CONFLICTS. A writer that loses a version race checks the winning
  *    version and retries at the next one. It throws
  *    [[ConcurrentWriteException]] only when that version removed a file
  *    this writer removes, or added a file in a date this writer rewrites.
  *    An append therefore commutes with everything, a compaction keeps a
  *    concurrent append, and two rewrites of one date produce one winner.
  *  - VACUUM. A removed file is deleted by the commit [[Retained]] versions
  *    later, so every retained version stays readable and restorable
  *    ([[restore]] — how a crashed ingest tick rolls back). Every
  *    [[Retained]] versions a checkpoint folds the log, and log files older
  *    than the retained window go.
  *  - OLD STORES. A table with no `_log` is read from its current layout:
  *    the highest `g<N>` holding `_SUCCESS`, else the flat `date=` layout.
  *    Its first write commits that file list as version 0.
  *
  * Object stores: nothing here renames, so rename-less stores need no copy
  * fallback; the log's put-if-absent must be atomic there (S3
  * `If-None-Match: *`, GCS preconditions) — see [[atomicCreate]].
  */
object TableStore {

  /** A version committed since this writer's snapshot removed a file the
    * writer removes, or added a file in a date it rewrites. The loser has
    * written only unreferenced files; re-running it against the new state
    * converges (the analog of a Delta commit conflict,
    * `preprocess.py:169-175`).
    */
  final class ConcurrentWriteException(msg: String)
    extends RuntimeException(msg)

  private[store] def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[store] val GenName = "^g(\\d+)$".r

  /** Versions a removed file stays on disk after its removal, and the
    * checkpoint interval. A reader's snapshot and a restore target stay
    * valid for this many later commits (an ingest tick makes at most three
    * per table).
    */
  private[store] val Retained = 10

  /** One data file of a version: `path` relative to the table dir, its
    * `date` partition value (null for the default partition and for
    * unpartitioned tables), and its size; `rows` is -1 for files adopted
    * from a pre-log layout.
    */
  final case class AddFile(path: String, date: String, bytes: Long, rows: Long)

  /** The table state at `version` (-1: nothing committed yet). `tombs`
    * maps each removed, not yet vacuumed file to the version removing it.
    */
  private[graft] final case class Snapshot(version: Long,
      schema: Option[StructType], partitioned: Boolean,
      files: Map[String, AddFile], tombs: Map[String, Long])

  private val Empty = Snapshot(-1L, None, partitioned = false, Map.empty, Map.empty)

  /** Test hook: runs after a writer has written its data files and before
    * it commits — the window concurrent commits land in. Production no-op.
    */
  private[store] var beforeCommitHook: () => Unit = () => ()

  // ---- the log ----------------------------------------------------------

  private val json = new ObjectMapper()
  private val JsonName = "^(\\d{20})\\.json$".r
  private val CheckpointName = "^(\\d{20})\\.checkpoint\\.json$".r

  private def logFile(dir: String, v: Long, kind: String): Path =
    new Path(new Path(dir, "_log"), f"$v%020d$kind.json")

  /** Put-if-absent of a whole file: true iff this call created `p`.
    *
    *  - `file:` writes a hidden temp file and hard-links it into place
    *    (`link` is kernel-atomic and fails on an existing name), so a
    *    reader never sees a partial version;
    *  - HDFS: `create(p, overwrite = false)` is namenode-atomic;
    *  - S3 via s3a: atomic only with conditional writes
    *    (`fs.s3a.create.conditional.enabled`, an `If-None-Match: *` PUT);
    *    GCS and ABFS have equivalent preconditions. Without them two
    *    writers can both "create" a version, so the documented mode there
    *    is one writer per table (the reference's shape, one Prefect flow
    *    per store, `preprocess.py:258,277-280`); Delta closes the same gap
    *    with an external LogStore, out of scope here.
    */
  private def atomicCreate(f: FileSystem, p: Path, lines: Seq[String]): Boolean = {
    val bytes = lines.mkString("", "\n", "\n").getBytes("UTF-8")
    if (f.getUri.getScheme == "file") {
      val target = new java.io.File(f.makeQualified(p).toUri.getPath).toPath
      java.nio.file.Files.createDirectories(target.getParent)
      val tmp = java.nio.file.Files.createTempFile(target.getParent, ".", ".tmp")
      try {
        java.nio.file.Files.write(tmp, bytes)
        java.nio.file.Files.createLink(target, tmp)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      finally java.nio.file.Files.deleteIfExists(tmp)
    } else try {
      val out = f.create(p, false)
      try out.write(bytes) finally out.close()
      true
    } catch { case _: FileAlreadyExistsException => false }
  }

  private def readLines(f: FileSystem, p: Path): Seq[String] = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  /** (commit versions, checkpoint versions) present in `_log`. */
  private def logVersions(f: FileSystem, dir: String): (Set[Long], Seq[Long]) =
    try {
      val names = f.listStatus(new Path(dir, "_log")).map(_.getPath.getName)
      (names.collect { case JsonName(v) => v.toLong }.toSet,
        names.collect { case CheckpointName(v) => v.toLong }.sorted.toSeq)
    } catch { case _: FileNotFoundException => (Set.empty, Nil) }

  private def addLine(a: AddFile): String = {
    val n = json.createObjectNode()
    n.putObject("add").put("path", a.path).put("date", a.date)
      .put("bytes", a.bytes).put("rows", a.rows)
    n.toString
  }

  private def pathLine(kind: String, p: String, at: Long = -1L): String = {
    val n = json.createObjectNode()
    val o = n.putObject(kind).put("path", p)
    if (at >= 0) o.put("at", at)
    n.toString
  }

  private def metaLine(schema: StructType, partitioned: Boolean): String = {
    val n = json.createObjectNode()
    n.putObject("meta").put("schema", schema.json).put("partitioned", partitioned)
    n.toString
  }

  /** Apply one version's (or a checkpoint's) actions to `s`. */
  private def replay(s: Snapshot, v: Long, lines: Seq[String]): Snapshot =
    lines.filter(_.nonEmpty).foldLeft(s.copy(version = v)) { (s, line) =>
      val n = json.readTree(line)
      def str(o: com.fasterxml.jackson.databind.JsonNode, k: String) =
        Option(o.get(k)).filterNot(_.isNull).map(_.asText).orNull
      if (n.has("add")) {
        val a = n.get("add")
        val f = AddFile(str(a, "path"), str(a, "date"), a.get("bytes").asLong,
          a.get("rows").asLong)
        s.copy(files = s.files + (f.path -> f), tombs = s.tombs - f.path)
      } else if (n.has("remove")) {
        val p = str(n.get("remove"), "path")
        s.copy(files = s.files - p, tombs = s.tombs + (p -> v))
      } else if (n.has("tomb")) {
        val t = n.get("tomb")
        s.copy(tombs = s.tombs + (str(t, "path") -> t.get("at").asLong))
      } else if (n.has("meta")) {
        val m = n.get("meta")
        s.copy(schema = Some(DataType.fromJson(str(m, "schema"))
          .asInstanceOf[StructType]), partitioned = m.get("partitioned").asBoolean)
      } else s
    }

  /** The table at version `at` (default: the latest) — the latest
    * checkpoint at or below it plus the later versions. A table with no
    * log yet reads as its pre-log layout (version -1). Versions more than
    * [[Retained]] behind the latest may have lost files to vacuum and are
    * refused.
    */
  private[graft] def snapshot(spark: SparkSession, dir: String,
      at: Option[Long] = None): Snapshot = {
    val f = fs(spark, dir)
    val (jsons, checkpoints) = logVersions(f, dir)
    if (jsons.isEmpty && checkpoints.isEmpty) return bootstrap(f, dir)
    val latest = (jsons ++ checkpoints).max
    val target = at.getOrElse(latest)
    val from = checkpoints.filter(_ <= target).lastOption
    require(target <= latest && target >= latest - Retained &&
      (from.getOrElse(-1L) + 1 to target).forall(jsons.contains),
      s"version $target of $dir is not retained (latest $latest; the log " +
        s"keeps the last $Retained) — older versions are vacuumed")
    val start = from.fold(Empty)(c =>
      replay(Empty, c, readLines(f, logFile(dir, c, ".checkpoint"))))
    (from.getOrElse(-1L) + 1 to target).foldLeft(start)((s, v) =>
      replay(s, v, readLines(f, logFile(dir, v, ""))))
  }

  /** `date` value of a `date=<escaped>` path segment. */
  private def partValue(seg: String): String = seg.stripPrefix("date=") match {
    case ExternalCatalogUtils.DEFAULT_PARTITION_NAME => null
    case v => ExternalCatalogUtils.unescapePathName(v)
  }

  /** A pre-log table read from its layout: the highest `g<N>` holding
    * `_SUCCESS`, else the table root. Hidden paths and root-level dirs
    * that are not `date=` partitions (uncommitted generations, sidecars,
    * leftover stages) are not data.
    */
  private def bootstrap(f: FileSystem, dir: String): Snapshot = {
    val root = new Path(dir)
    if (!f.exists(root)) return Empty
    val gen = f.listStatus(root).toSeq.map(_.getPath).filter(p =>
      GenName.matches(p.getName) && f.exists(new Path(p, "_SUCCESS")))
      .maxByOption(_.getName.drop(1).toInt)
    val base = f.makeQualified(gen.getOrElse(root))
    val prefix = gen.fold("")(_.getName + "/")
    val baseLen = base.toUri.getPath.length
    val files = scala.collection.mutable.ArrayBuffer[AddFile]()
    val it = f.listFiles(base, true)
    while (it.hasNext) {
      val st = it.next()
      val segs = st.getPath.toUri.getPath.drop(baseLen).split("/")
        .filter(_.nonEmpty).toSeq
      if (st.getPath.getName.endsWith(".parquet") &&
          !segs.exists(s => s.startsWith("_") || s.startsWith(".")) &&
          (segs.size == 1 || segs.head.startsWith("date=")))
        files += AddFile(prefix + segs.mkString("/"),
          if (segs.size > 1) partValue(segs.head) else null, st.getLen, -1L)
    }
    Snapshot(-1L, None, files.exists(_.path.drop(prefix.length).contains('/')),
      files.map(a => a.path -> a).toMap, Map.empty)
  }

  /** Footer-inferred schema of a pre-log table (one file, partition column
    * typed from its path) — the one read that fires an inference job.
    */
  private def inferSchema(spark: SparkSession, dir: String, s: Snapshot): StructType = {
    val a = s.files.values.head
    val first = a.path.takeWhile(_ != '/')
    val base = if (GenName.matches(first)) new Path(dir, first) else new Path(dir)
    spark.read.option("basePath", base.toString)
      .parquet(new Path(dir, a.path).toString).schema
  }

  /** The snapshot a writer starts from: a pre-log table first commits its
    * layout as version 0.
    */
  private def writerSnapshot(spark: SparkSession, dir: String): Snapshot = {
    val s = snapshot(spark, dir)
    if (s.version >= 0 || s.files.isEmpty) s
    else publish(spark, dir, Empty, "bootstrap", s.files.values.toSeq,
      meta = Some((inferSchema(spark, dir, s), s.partitioned)))
  }

  /** The table's current log version (-1 when nothing was committed); a
    * pre-log table commits its layout as version 0 first, so the returned
    * version is always one [[restore]] can go back to.
    */
  def version(spark: SparkSession, dir: String): Long =
    writerSnapshot(spark, dir).version

  private def commit(spark: SparkSession, dir: String, base: Snapshot,
      op: String, adds: Seq[AddFile], removes: Set[String] = Set.empty,
      rewrites: String => Boolean = _ => false,
      meta: Option[(StructType, Boolean)] = None): Snapshot = {
    beforeCommitHook()
    publish(spark, dir, base, op, adds, removes, rewrites, meta)
  }

  /** Write the next version after `base`; on a lost race check the winner
    * (see the conflict rule in the object doc) and move up. Then vacuum
    * and, every [[Retained]] versions, checkpoint.
    */
  private def publish(spark: SparkSession, dir: String, base: Snapshot,
      op: String, adds: Seq[AddFile], removes: Set[String] = Set.empty,
      rewrites: String => Boolean = _ => false,
      meta: Option[(StructType, Boolean)] = None): Snapshot = {
    val f = fs(spark, dir)
    val lines = Seq(json.createObjectNode().put("op", op)
        .put("ts", System.currentTimeMillis).toString) ++
      meta.map { case (s, p) => metaLine(s, p) } ++ adds.map(addLine) ++
      removes.toSeq.sorted.map(pathLine("remove", _))
    var s = base
    while (!atomicCreate(f, logFile(dir, s.version + 1, ""), lines)) {
      val v = s.version + 1
      val theirs = readLines(f, logFile(dir, v, ""))
      val delta = replay(Empty, v, theirs)
      val lost = delta.tombs.keySet.intersect(removes)
      val clash = delta.files.values.map(_.date).filter(rewrites)
      if (lost.nonEmpty || clash.nonEmpty)
        throw new ConcurrentWriteException(s"$dir: version $v " +
          (if (lost.nonEmpty) s"removed ${lost.size} files this $op removes"
           else s"added files in date ${clash.head}, which this $op rewrites") +
          " — re-run it against the new state")
      s = replay(s, v, theirs)
    }
    val next = replay(s, s.version + 1, lines)
    val root = new Path(dir)
    next.tombs.foreach { case (p, at) =>
      if (at == next.version - Retained) f.delete(new Path(root, p), false)
    }
    if (next.version > 0 && next.version % Retained == 0) {
      atomicCreate(f, logFile(dir, next.version, ".checkpoint"),
        next.schema.map(metaLine(_, next.partitioned)).toSeq ++
          next.files.values.map(addLine) ++
          next.tombs.collect { case (p, at) if at > next.version - Retained =>
            pathLine("tomb", p, at) })
      val (jsons, checkpoints) = logVersions(f, dir)
      val old = next.version - Retained
      (jsons.filter(_ < old).map(logFile(dir, _, "")) ++
        checkpoints.filter(_ < old).map(logFile(dir, _, ".checkpoint")))
        .foreach(f.delete(_, false))
    }
    next
  }

  /** Roll the table back to `version` with one restore commit: the files
    * of that version come back (vacuum has kept them, see [[Retained]]),
    * later ones go. Version -1 empties the table. A no-op when the table
    * is already there.
    */
  def restore(spark: SparkSession, dir: String, version: Long): Unit = {
    val s = writerSnapshot(spark, dir)
    if (s.version != version) {
      val t = if (version < 0) Empty else snapshot(spark, dir, Some(version))
      val adds = t.files.values.filterNot(a => s.files.contains(a.path)).toSeq
      val removes = s.files.keySet -- t.files.keySet
      if (adds.nonEmpty || removes.nonEmpty)
        commit(spark, dir, s, "restore", adds, removes, _ => true,
          t.schema.map((_, t.partitioned)))
    }
  }

  // ---- data files ---------------------------------------------------------

  /** A DataFrame over exactly `files` of snapshot `s`, built from the log's
    * file list: the file index is seeded with the statuses and partition
    * values the log records, so planning touches no directory. `schema`
    * overrides the table's; a missing table without one fails like a plain
    * read of `dir`.
    */
  private[graft] def frame(spark: SparkSession, dir: String, s: Snapshot,
      files: Iterable[AddFile], schema: Option[StructType] = None): DataFrame = {
    val sch = schema.orElse(s.schema).getOrElse {
      if (s.files.isEmpty) return spark.read.parquet(dir)
      inferSchema(spark, dir, s)
    }
    val root = fs(spark, dir).makeQualified(new Path(dir))
    val statuses = files.toSeq.map(a =>
      a -> new FileStatus(a.bytes, false, 1, 0L, 0L, new Path(root, a.path)))
    val byPath = statuses.map { case (_, st) => st.getPath -> Array(st) }.toMap
    val cache = new FileStatusCache {
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] = byPath.get(p)
      override def putLeafFiles(p: Path, l: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val part = if (!s.partitioned) None
      else sch.find(_.name == "date").orElse(s.schema.flatMap(_.find(_.name == "date")))
    val partSchema = StructType(part.toSeq)
    val tz = Option(spark.conf.get("spark.sql.session.timeZone", null))
    val spec = PartitionSpec(partSchema, part.toSeq.flatMap { p =>
      statuses.map { case (a, st) => (a.date, st.getPath.getParent) }.distinct
        .map { case (d, parent) =>
          PartitionPath(InternalRow(if (d == null) null
            else Cast(Literal(d), p.dataType, tz).eval()), parent)
        }
    })
    val index = new InMemoryFileIndex(spark, statuses.map(_._2.getPath),
      Map.empty, Some(sch), cache, Some(spec), None)
    val dataSchema = StructType(sch.filterNot(f => part.exists(_.name == f.name)))
    spark.asInstanceOf[CSparkSession].baseRelationToDataFrame(
      HadoopFsRelation(index, partSchema, dataSchema, None,
        new ParquetFileFormat, Map.empty)(spark))
  }

  /** Write `df` as new data files under `dir` (by `date` when
    * `partitioned`) and return them, uncommitted. Spark's file writer runs
    * with [[LogCommitProtocol]] (files go straight to their final names,
    * no rename) and a [[FileTracker]] that reports each file's size and
    * rows, so the commit needs no listing.
    */
  private def writeFiles(df: DataFrame, dir: String,
      partitioned: Boolean): Seq[AddFile] = {
    val ds = df.asInstanceOf[CDataset[_]]
    val spark = ds.sparkSession
    val root = fs(spark, dir).makeQualified(new Path(dir)).toString
    val conf = spark.sessionState.newHadoopConf()
    val tracker = new FileTracker(new SerializableConfiguration(conf))
    SQLExecution.withNewExecutionId(ds.queryExecution, Some(s"commit $dir")) {
      val plan = ds.queryExecution.executedPlan
      FileFormatWriter.write(spark, plan, new ParquetFileFormat,
        new LogCommitProtocol(java.util.UUID.randomUUID().toString, root),
        FileFormatWriter.OutputSpec(root, Map.empty, plan.output), conf,
        if (partitioned) plan.output.filter(_.name == "date") else Nil, None,
        Seq(tracker, new BasicWriteJobStatsTracker(
          new SerializableConfiguration(conf), BasicWriteJobStatsTracker.metrics)),
        Map.empty)
    }
    tracker.added.toSeq.map { case (p, bytes, rows) =>
      val rel = p.stripPrefix(root).stripPrefix("/")
      AddFile(rel, if (partitioned) partValue(rel.takeWhile(_ != '/')) else null,
        bytes, rows)
    }
  }

  private def str(v: Any): String = Option(v).map(String.valueOf).orNull

  // ---- writes ---------------------------------------------------------------

  /** S6: append one batch, partitioned by `date` (`preprocess.py:165-175`):
    * one commit adding the batch's files. Returns the batch's distinct
    * `date` values as strings (null for the default partition; like
    * Spark's writer, an empty string also lands there), read off the
    * written files, so a caller that needs the touched partitions pays no
    * second job.
    */
  def append(df: DataFrame, dir: String): Seq[String] =
    appendAs(df, dir, None)

  private def appendAs(df: DataFrame, dir: String,
      schema: Option[StructType]): Seq[String] = {
    val spark = df.sparkSession
    val s = writerSnapshot(spark, dir)
    val adds = writeFiles(df, dir, partitioned = true)
    commit(spark, dir, s, "append", adds, meta = schema.orElse(
      if (s.schema.isEmpty) Some(df.schema) else None).map((_, true)))
    adds.map(_.date).distinct
  }

  /** Write-path expectations (the Delta table-constraints / dbt
    * store-and-route shape): rows satisfying every ROW-LOCAL check append
    * into the table; violating rows are ROUTED to `dir/_rejects` with a
    * `reject_reasons` column (comma-joined sorted names of every failed
    * check) instead of poisoning the table or failing the batch —
    * auditable, reprocessable, and the write stays all-rows-accounted-for
    * (returned counts sum to the batch).
    *
    * Row-local checks only ([[graft.query.Constraints.NotNull]] /
    * [[Constraints.InRange]]): the mask is one codegen'd projection on
    * the existing write scan — no shuffle, no second pass over history.
    * Cross-row checks (Unique, ForeignKey) need corpus state and belong
    * to [[graft.query.Constraints.audit]] BEFORE publish; passing one
    * here fails loudly rather than silently checking the batch alone.
    * `df` must carry the store's `date` partition column; rejects
    * partition by the same dates, so reprocessing a day's rejects is a
    * partition read.
    */
  def appendWithExpectations(df: DataFrame,
      dir: String,
      checks: Seq[graft.query.Constraints.Check]): (Long, Long) = {
    import graft.query.Constraints.{Check, InRange, NotNull}
    require(checks.nonEmpty, "appendWithExpectations needs >=1 check")
    val rowLocal: Seq[(String, Column)] = checks.map {
      case c: NotNull => c.name -> col(c.col).isNull
      case c: InRange => c.name -> (col(c.col).isNotNull &&
        (col(c.col) < c.lo || col(c.col) > c.hi))
      case c: Check => throw new IllegalArgumentException(
        s"appendWithExpectations takes row-local checks only; '${c.name}' " +
          "needs corpus state — run Constraints.audit before publish")
    }.sortBy(_._1)
    // one conditional-array concat per row, codegen'd; empty = clean
    val reasons = concat(rowLocal.map { case (n, v) =>
      when(v, array(lit(n))).otherwise(array().cast("array<string>"))
    }: _*)
    val flagged = df.withColumn("_reasons", reasons)
    val good = flagged.filter(size(col("_reasons")) === 0).drop("_reasons")
    val bad = flagged.filter(size(col("_reasons")) > 0)
      .withColumn("reject_reasons", concat_ws(",", col("_reasons")))
      .drop("_reasons")
    // both counts from ONE aggregate pass (not a count() per branch —
    // that would re-scan the batch twice more); the branch writes then
    // re-evaluate the deterministic batch, the store's standing
    // assumption (append/merge make it too)
    val counts = flagged.agg(
      sum(when(size(col("_reasons")) === 0, 1L).otherwise(0L)).as("g"),
      sum(when(size(col("_reasons")) > 0, 1L).otherwise(0L)).as("b")).head()
    val (nGood, nBad) =
      (if (counts.isNullAt(0)) 0L else counts.getLong(0),
        if (counts.isNullAt(1)) 0L else counts.getLong(1))
    append(good, dir)
    if (nBad > 0) bad.write.mode("append").partitionBy("date")
      .parquet(s"$dir/_rejects")
    (nGood, nBad)
  }

  /** Replace the rows of `dates` with `df` in one commit: the files of
    * those dates in `s` go, `df`'s files come. A date `df` has no rows for
    * ends up empty. Conflicts with any concurrent commit touching them.
    */
  private def rewriteDates(spark: SparkSession, dir: String, s: Snapshot,
      op: String, dates: Set[String], df: DataFrame): Unit = {
    val old = s.files.values.filter(a => dates(a.date)).map(_.path).toSet
    commit(spark, dir, s, op, writeFiles(df, dir, partitioned = true), old, dates)
  }

  private def filesOf(s: Snapshot, dates: Set[String]): Iterable[AddFile] =
    s.files.values.filter(a => dates(a.date))

  /** Schema enforcement for rewrites (Delta's): a batch missing a table
    * column would silently NULL it across every rewritten row; an extra
    * one would land physically without widening the declared schema.
    */
  private def requireTableColumns(op: String, s: Snapshot, batch: DataFrame): Unit =
    s.schema.foreach { t =>
      val (tableCols, batchCols) = (t.fieldNames.toSet, batch.columns.toSet)
      require(batchCols == tableCols, s"$op: batch schema must match the table: " +
        s"missing=${(tableCols -- batchCols).mkString(",")} " +
        s"extra=${(batchCols -- tableCols).mkString(",")}")
    }

  /** S13: row-level MERGE (Delta `MERGE INTO ... WHEN MATCHED UPDATE ALL /
    * WHEN NOT MATCHED INSERT ALL` with partition-local keys) — the upsert
    * depth the reference's Delta store exposes but never uses (its tables
    * are append-only, `preprocess.py:165-175`). `updates` must carry the
    * `date` partition column; rows replace existing rows sharing the same
    * `keyCols` value IN THE SAME PARTITION, or insert otherwise. The
    * logical key is (`date`, keyCols): a row never moves between
    * partitions via merge.
    *
    * Scale shape: touched dates come off the (small) batch — one distinct
    * collect; only the files of those dates are read and replaced, by a
    * LEFT ANTI join of that slice against the batch keys (broadcast while
    * the batch fits). Idempotent: re-merging the same batch is a no-op
    * state-wise.
    */
  def merge(spark: SparkSession, updates: DataFrame, dir: String,
      keyCols: Seq[String]): Unit = {
    require(updates.columns.contains("date"), "merge: updates need a `date` column")
    require(keyCols.nonEmpty && keyCols.forall(updates.columns.contains),
      s"merge: key columns ${keyCols.mkString(",")} must exist in the batch")
    val s = writerSnapshot(spark, dir)
    requireTableColumns("merge", s, updates)
    val batch = updates.localCheckpoint() // read once: touched dates + probe + union
    try {
      val touched = batch.select("date").distinct().collect().map(r => str(r.get(0))).toSet
      if (touched.nonEmpty) {
        val joinKeys = "date" +: keyCols
        val survivors = frame(spark, dir, s, filesOf(s, touched))
          .select(batch.columns.toSeq.map(col): _*)
          .join(batch.select(joinKeys.map(col): _*), joinKeys, "left_anti")
        rewriteDates(spark, dir, s, "merge", touched, survivors.unionByName(batch))
      }
    } finally {
      org.apache.spark.sql.graft.ColumnBridge.releaseLocalCheckpoint(batch)
    }
  }

  /** S17: row-level DELETE (`DELETE FROM ... WHERE predicate` — the Delta
    * DELETE analog, and the GDPR/right-to-erasure path when the predicate
    * is a key list). Returns the number of rows deleted. One aggregate
    * finds the matching rows per date (pruned to candidate partitions when
    * the predicate constrains `date`); one write replaces those dates'
    * files with their survivors, so a date whose every row matched ends
    * up with no files. SQL null semantics: rows where the predicate is
    * NULL stay. Idempotent: re-running removes 0 rows.
    */
  def deleteWhere(spark: SparkSession, dir: String, predicate: Column): Long = {
    import org.apache.spark.sql.functions.{coalesce, not}
    val s = writerSnapshot(spark, dir)
    val perDate = frame(spark, dir, s, s.files.values).filter(predicate)
      .groupBy("date").count().collect().map(r => str(r.get(0)) -> r.getLong(1))
    if (perDate.nonEmpty) {
      val dates = perDate.map(_._1).toSet
      rewriteDates(spark, dir, s, "delete", dates, frame(spark, dir, s,
        filesOf(s, dates)).filter(coalesce(not(predicate), lit(true))))
    }
    perDate.map(_._2).sum
  }

  /** S20: predicate-scoped overwrite (Delta `replaceWhere`) — replace
    * exactly the slice matching `predicate` with `batch`, e.g. "rebuild
    * last week from the corrected source". Stronger than a partition
    * overwrite (a date the recomputation has no rows for ends up empty)
    * and coarser than [[merge]] (no keys needed).
    *
    * Contract (Delta's): every batch row must satisfy `predicate`, or the
    * write would smuggle rows into partitions the reader believes
    * untouched; violations throw before anything is written. Returns the
    * number of rows replaced. The touched dates are the batch's plus those
    * holding matching rows; their files are replaced in one commit, so the
    * swap is atomic across dates. NULL predicate rows are kept.
    */
  def replaceWhere(spark: SparkSession, batchDf: DataFrame, dir: String,
      predicate: Column): Long = {
    import org.apache.spark.sql.functions.{coalesce, count, not}
    require(batchDf.columns.contains("date"),
      "replaceWhere: batch needs a `date` column")
    val s = writerSnapshot(spark, dir)
    requireTableColumns("replaceWhere", s, batchDf)
    val batch = batchDf.localCheckpoint() // read twice: stats, write
    try {
      // one pass over the batch: per-date counts and predicate violations
      val batchAgg = batch.groupBy("date").agg(
        count(when(coalesce(not(predicate), lit(true)), 1)).as("__viol"))
        .collect()
      val violations = batchAgg.map(_.getLong(1)).sum
      require(violations == 0L,
        s"replaceWhere: $violations batch rows do not satisfy the predicate")
      val perDate = frame(spark, dir, s, s.files.values).filter(predicate)
        .groupBy("date").count().collect().map(r => str(r.get(0)) -> r.getLong(1))
      val dates = (perDate.map(_._1) ++ batchAgg.map(r => str(r.get(0)))).toSet
      if (dates.nonEmpty) rewriteDates(spark, dir, s, "replace", dates,
        frame(spark, dir, s, filesOf(s, dates))
          .filter(coalesce(not(predicate), lit(true))).unionByName(batch))
      perDate.map(_._2).sum
    } finally {
      org.apache.spark.sql.graft.ColumnBridge.releaseLocalCheckpoint(batch)
    }
  }

  /** S7: full-table overwrite for derived result tables
    * (`preprocess.py:226-230, 240-244` — the reference does rm+mkdir+write;
    * Spark's overwrite mode is the atomic-enough equivalent). Plain Parquet
    * with no log: outside readers read these as plain directories.
    */
  def overwrite(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").parquet(dir)

  /** Replace the whole table in one commit — for derived tables whose next
    * version is computed FROM their current one (incremental aggregates):
    * the new files are written while the old ones stay readable, and
    * readers holding the old snapshot keep reading it. `partitionCols`
    * (`Seq("date")` or empty) keeps the result date-partitioned so later
    * appends can target it. Conflicts with any commit since its snapshot.
    */
  def overwriteVersioned(df: DataFrame, dir: String,
      partitionCols: Seq[String] = Nil): Unit =
    overwriteAt(df, dir, partitionCols, writerSnapshot(df.sparkSession, dir))

  private def overwriteAt(df: DataFrame, dir: String, partitionCols: Seq[String],
      s: Snapshot): Unit = {
    require(partitionCols.forall(_ == "date"), "the store partitions by `date` only")
    val partitioned = partitionCols.nonEmpty
    commit(df.sparkSession, dir, s, "overwrite", writeFiles(df, dir, partitioned),
      s.files.keySet, _ => true, Some((df.schema, partitioned)))
  }

  /** Delta-style optimistic read-modify-write transaction: `compute` must
    * READ the table fresh and return its full replacement; when another
    * commit lands first, the whole body re-runs against the new state —
    * the reference's `retries=10` loop (`preprocess.py:261`), with the
    * re-derivation explicit instead of implicit in Delta's log rebase.
    */
  def transactVersioned(spark: SparkSession, dir: String,
      partitionCols: Seq[String] = Nil)(compute: => DataFrame): Unit = {
    val retries = 10
    var attempt = 0
    var committed = false
    while (!committed) {
      val base = writerSnapshot(spark, dir)
      try {
        overwriteAt(compute, dir, partitionCols, base)
        committed = true
      } catch {
        case e: ConcurrentWriteException =>
          attempt += 1
          if (attempt > retries) throw e
          Thread.sleep(math.min(2000L, 50L << math.min(attempt, 5)) +
            scala.util.Random.nextInt(50))
      }
    }
  }

  def read(spark: SparkSession, dir: String): DataFrame = {
    val s = snapshot(spark, dir)
    frame(spark, dir, s, s.files.values)
  }

  /** Read under `schema`: files missing a column yield NULL (by-name
    * parquet resolution), and a table with no files yet reads as empty.
    */
  def read(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    val s = snapshot(spark, dir)
    frame(spark, dir, s, s.files.values, Some(schema))
  }

  // ---- S15: schema evolution (widen-on-append, declared-schema reads) --------

  /** Widen `base` with the new columns of `incoming`, Delta
    * `mergeSchema`-style: existing columns must keep their exact type
    * (conflicts fail loudly — silent coercion corrupts a 100 TB table
    * quietly; cast BEFORE appending), new columns append at the end as
    * nullable (historical rows read as NULL).
    */
  private[store] def widen(base: StructType, incoming: StructType): StructType = {
    val byName = base.fields.map(f => f.name -> f).toMap
    incoming.fields.foreach { f =>
      byName.get(f.name).foreach { b =>
        require(b.dataType == f.dataType,
          s"schema conflict on '${f.name}': table has ${b.dataType}, " +
            s"batch has ${f.dataType} — cast the batch before appending")
      }
    }
    val added = incoming.fields.filterNot(f => byName.contains(f.name))
      .map(_.copy(nullable = true))
    StructType(base.fields ++ added)
  }

  /** S15: append with schema evolution — the Delta
    * `option("mergeSchema", true)` write. The batch may carry columns the
    * table has never seen; the schema the log declares (the first
    * writer's, replaced by [[overwriteVersioned]]) widens (monotone — columns
    * are never dropped or retyped) in the same commit that adds the
    * batch's files, and historical rows read the new columns as NULL.
    * Reads never merge footers: the log's schema resolves in O(1), the
    * Delta-log design.
    */
  def appendEvolving(df: DataFrame, dir: String): Unit = {
    val base = writerSnapshot(df.sparkSession, dir).schema
    appendAs(df, dir, Some(widen(base.getOrElse(StructType(Nil)), df.schema)))
  }

  /** Parquet data files of the current version (qualified paths). */
  def dataFiles(spark: SparkSession, dir: String): Seq[String] = {
    val root = fs(spark, dir).makeQualified(new Path(dir))
    snapshot(spark, dir).files.keys.toSeq.sorted.map(new Path(root, _).toString)
  }

  /** Inclusive numeric range predicate for file-level data skipping. */
  final case class ColRange(name: String, lo: Double, hi: Double)

  /** A pruned read plus the skipping evidence for observability/tests.
    * `statsSource` records where the per-file evidence came from:
    * "footers" ([[readPruned]]'s footer pass) or "bloom"
    * ([[BloomSkip.readPrunedEq]]).
    */
  final case class PrunedRead(df: DataFrame, filesKept: Int, filesTotal: Int,
      statsSource: String = "footers")

  /** File-level data skipping from parquet footer stats — the engine-side
    * half of Delta data skipping (Delta reads min/max from its tx log; a
    * plain-parquet store reads them from the footers, distributed one task
    * per file batch so the driver never touches a footer). A file is
    * skipped only when its stats PROVE no row can satisfy every range;
    * missing/non-numeric stats keep the file (conservative). The caller
    * still applies the row-level filter — pruning is a superset guarantee,
    * identical results, fewer bytes read.
    *
    * Pairs with z-order compaction ([[compact]] `zorderBy`): clustered
    * layout makes per-file ranges tight, so multi-column predicates drop
    * most files instead of overlapping all of them.
    */
  def readPruned(spark: SparkSession, dir: String, ranges: Seq[ColRange],
      schema: Option[StructType] = None): PrunedRead = {
    val s = snapshot(spark, dir)
    val root = fs(spark, dir).makeQualified(new Path(dir))
    val files = s.files.values.toSeq.map(a => new Path(root, a.path).toString -> a)
    val kept = keptByFooters(spark, files.map(_._1), ranges).toSet
    val keep = files.collect { case (p, a) if kept(p) => a }
    PrunedRead(frame(spark, dir, s, keep, schema), keep.size, files.size)
  }

  /** The files whose footer ranges overlap every one of `ranges`. */
  private def keptByFooters(spark: SparkSession, files: Seq[String],
      ranges: Seq[ColRange]): Seq[String] = {
    val stats = footerStats(spark, files, ranges.map(_.name))
    files.filter { f =>
      val fileStats = stats.getOrElse(f, Map.empty)
      ranges.forall { r =>
        fileStats.get(r.name) match {
          case Some((mn, mx)) => mx >= r.lo && mn <= r.hi
          case None => true // column absent from stats → can't prove, keep
        }
      }
    }
  }

  /** Per-file `col → (min, max)` of `cols` over the footers of `files`,
    * read in parallel tasks (a 100 TB table's stats pass is O(files) footer
    * reads spread over the cluster — the same stats Delta materializes in
    * its log).
    */
  private def footerStats(spark: SparkSession, files: Seq[String],
      cols: Seq[String]): Map[String, Map[String, (Double, Double)]] =
    if (files.isEmpty || cols.isEmpty) Map.empty
    else {
      val colSet = cols.toSet
      // the SESSION's Hadoop conf must reach the tasks (S3A credentials /
      // endpoints land there via CloudStorage.configure; a bare
      // `new Configuration()` would see none of it). Configuration itself
      // isn't serializable — ship the entries and rebuild per task.
      import scala.jdk.CollectionConverters._
      val confEntries = spark.sparkContext.hadoopConfiguration.iterator()
        .asScala.map(e => (e.getKey, e.getValue)).toArray
      spark.sparkContext
        .parallelize(files, math.max(1, math.min(files.size, 64)))
        .map { p =>
          import scala.jdk.CollectionConverters._
          val conf = new org.apache.hadoop.conf.Configuration()
          confEntries.foreach { case (k, v) => conf.set(k, v) }
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new Path(p), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            val m = scala.collection.mutable.Map[String, (Double, Double)]()
            val keep = (Double.NegativeInfinity, Double.PositiveInfinity)
            for (b <- r.getFooter.getBlocks.asScala;
                 c <- b.getColumns.asScala) {
              val name = c.getPath.toDotString
              if (colSet.contains(name)) {
                val st = c.getStatistics
                val range: Option[(Double, Double)] =
                  if (st == null || st.isEmpty) Some(keep) // no stats → keep file
                  else if (!st.hasNonNullValue) None // all-null block: no row matches
                  else numericRange(st).orElse(Some(keep)) // non-numeric → keep
                range.foreach { case (mn, mx) =>
                  m(name) = m.get(name).fold((mn, mx)) { t =>
                    (math.min(t._1, mn), math.max(t._2, mx))
                  }
                }
              }
            }
            (p, m.toMap)
          } finally r.close()
        }.collect().toMap
    }

  /** S21: corrupt-file quarantine — the anti-entropy sweep for a store
    * whose object layer can hand back truncated or garbage objects. One
    * distributed footer probe over every data file of the current version;
    * files whose footer fails to parse are copied to `dir/_quarantine/`
    * (named by their relative path, so colliding basenames cannot clobber)
    * and removed from the table in one commit. Returns their paths.
    *
    * Honest boundary: a footer-valid file with corrupt DATA pages passes
    * this probe — truncation and whole-object garbage (the common
    * object-store failures) are what the footer catches; page-level CRCs
    * are the reader's job. Idempotent: a second sweep finds nothing.
    */
  def quarantineCorrupt(spark: SparkSession, dir: String): Seq[String] = {
    val s = writerSnapshot(spark, dir)
    val root = fs(spark, dir).makeQualified(new Path(dir))
    val files = s.files.keys.toSeq.map(p => new Path(root, p).toString)
    if (files.isEmpty) return Nil
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val bad = spark.sparkContext
      .parallelize(files, math.max(1, math.min(files.size, 64)))
      .flatMap { p =>
        val ok = try {
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(p), conf.value))
          try r.getFooter.getBlocks != null finally r.close()
        } catch { case scala.util.control.NonFatal(_) => false }
        if (ok) None else Some(p)
      }.collect().toSeq
    if (bad.nonEmpty) {
      // the raw store: a torn file no longer matches its local .crc
      val f = fs(spark, dir) match {
        case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
        case other => other
      }
      val rel = bad.map(_.stripPrefix(root.toString).stripPrefix("/"))
      rel.foreach { r =>
        require(org.apache.hadoop.fs.FileUtil.copy(f, new Path(root, r), f,
          new Path(new Path(root, "_quarantine"), r.replace("/", "__")), false,
          spark.sparkContext.hadoopConfiguration), s"quarantine copy failed: $r")
      }
      commit(spark, dir, s, "quarantine", Nil, rel.toSet)
    }
    bad
  }

  /** Bucket count per date for `targetFileBytes`-sized files, from the
    * sizes the log records.
    */
  private def bucketsFor(files: Iterable[AddFile], targetFileBytes: Long): Map[String, Long] =
    files.filter(_.date != null).groupMapReduce(_.date)(_.bytes)(_ + _)
      .view.mapValues(b => math.max(1L, (b + targetFileBytes - 1) / targetFileBytes))
      .toMap

  /** S8+S9: compact each date partition to ~`targetFileBytes`-sized files
    * (`preprocess.py:199-206`) in one commit that replaces every file of
    * the snapshot. Returns (filesBefore, filesAfter).
    *
    * File sizing is the Delta-OPTIMIZE bin-pack analog: a date holding B
    * bytes gets ceil(B / targetFileBytes) buckets, rows spread across them
    * by hash, one file per bucket — a hot date at corpus scale must not be
    * one task writing one huge file. Small partitions still compact to
    * exactly one file. The commit removes only the files the compaction
    * read, so an append committed meanwhile survives it untouched; readers
    * holding the old snapshot keep their files until vacuum.
    */
  def compact(spark: SparkSession, dir: String,
      schema: Option[StructType] = None,
      targetFileBytes: Long = 512L * 1024 * 1024,
      zorderBy: Seq[String] = Nil): (Long, Long) = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive")
    val s = writerSnapshot(spark, dir)
    val files = s.files.values.toSeq
    if (files.isEmpty) return (0L, 0L)
    val buckets = bucketsFor(files, targetFileBytes)
    val df = frame(spark, dir, s, files, schema)
    val compacted =
      if (zorderBy.nonEmpty) {
        // Z-ORDER variant (Delta OPTIMIZE ZORDER analog): instead of hash
        // buckets, range-partition + sort on (date, z) so every output file
        // covers a tight hyper-rectangle of the z-columns. Range sampling
        // sees heavy dates proportionally, so file sizing still tracks
        // targetFileBytes. Explicit partition count keeps AQE from
        // coalescing the layout away.
        val zCol = "__graft_z"
        df.withColumn(zCol, ZOrder.zvalue(df, zorderBy, bits = 6))
          .repartitionByRange(math.max(1L, buckets.values.sum).min(20000).toInt,
            col("date"), col(zCol))
          .sortWithinPartitions(col("date"), col(zCol))
          .drop(zCol)
      } else binPack(df, buckets)
    val adds = writeFiles(compacted, dir, s.partitioned)
    commit(spark, dir, s, "compact", adds, s.files.keySet)
    (files.size.toLong, adds.size.toLong)
  }

  private def numericRange(
      st: org.apache.parquet.column.statistics.Statistics[_])
      : Option[(Double, Double)] = st match {
    case s: org.apache.parquet.column.statistics.LongStatistics =>
      Some((s.getMin.toDouble, s.getMax.toDouble))
    case s: org.apache.parquet.column.statistics.IntStatistics =>
      Some((s.getMin.toDouble, s.getMax.toDouble))
    case s: org.apache.parquet.column.statistics.DoubleStatistics =>
      Some((s.getMin, s.getMax))
    case s: org.apache.parquet.column.statistics.FloatStatistics =>
      Some((s.getMin.toDouble, s.getMax.toDouble))
    case _ => None
  }

  /** Delta-OPTIMIZE-shaped INCREMENTAL maintenance: bin-pack ONLY `dates`,
    * in one commit replacing those dates' files. The hourly tick passes
    * just the dates it closes (each date once, after its last hour), so
    * per-tick maintenance is O(closed partitions) — Delta's OPTIMIZE
    * likewise rewrites only under-target file groups. A reader that took
    * its snapshot before the commit keeps reading the old files (retained
    * for [[Retained]] versions); no partition is ever briefly absent. An
    * append into a compacting date survives: the commit removes only the
    * files it read. Returns (filesBefore, filesAfter) over `dates`.
    */
  def compactDates(spark: SparkSession, dir: String, dates: Seq[String],
      schema: Option[StructType] = None,
      targetFileBytes: Long = 512L * 1024 * 1024): (Long, Long) = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive")
    if (dates.isEmpty) return (0L, 0L)
    val s = writerSnapshot(spark, dir)
    val files = filesOf(s, dates.map(str).toSet).toSeq
    if (files.isEmpty) return (0L, 0L)
    val adds = writeFiles(binPack(frame(spark, dir, s, files, schema),
      bucketsFor(files, targetFileBytes)), dir, partitioned = true)
    commit(spark, dir, s, "compact", adds, files.map(_.path).toSet)
    (files.size.toLong, adds.size.toLong)
  }

  /** Deterministic per-date hash bin-packing (shared by [[compact]] and
    * [[compactDates]]): spread each date's rows across its bucket count so
    * `partitionBy("date")` emits ~target-sized files, one per bucket.
    *
    * Bucket counts ride in the plan as one map literal holding only the
    * dates that need more than one bucket; every other date — the hourly
    * tick's case, so the map is usually empty — defaults to one. A literal
    * costs no job (the broadcast join of a local frame it replaces cost
    * one per call); its lookup scans the map's keys, so per-row cost grows
    * with the number of over-target dates in a full [[compact]]. The
    * internal column carries an improbable prefix: a user table with a
    * column of the same name would otherwise be silently overwritten and
    * dropped from the output.
    *
    * The bucket key must be DETERMINISTIC under task retry: a recomputed
    * map task must assign every row the same bucket already-fetched
    * reducer output saw, or the retry silently duplicates/loses rows (the
    * classic repartition-by-rand corruption). Hash the row's own columns
    * (skipping unhashable map types); byte-identical duplicate rows then
    * share a bucket, which skews only degenerate all-duplicate dates.
    */
  private def binPack(df: DataFrame,
      bucketsFor: Map[String, Long]): DataFrame = {
    import org.apache.spark.sql.functions._
    val bCol = "__graft_compact_b"
    val nb = typedLit(bucketsFor.filter(_._2 > 1L))
      .getItem(df.col("date").cast("string"))
    val hashCols = df.schema.fields
      .filter(f => hashableType(f.dataType)).map(f => df.col(f.name))
    val rowKey = if (hashCols.isEmpty) lit(0L) else xxhash64(hashCols.toIndexedSeq: _*)
    val bucketed = df.withColumn(bCol, pmod(rowKey, coalesce(nb, lit(1L))))
    // every (date, bucket) lands wholly in one task; partitionBy("date")
    // then emits one file per bucket. The partition count is EXPLICIT —
    // a column-only repartition is subject to AQE coalescing, which at
    // small scale merges all buckets back into one task and silently
    // undoes the bin-packing (2x the bucket count keeps same-date hash
    // collisions — which merge two buckets into one bigger file — rare).
    val totalBuckets = math.max(1L, bucketsFor.values.sum)
    bucketed.repartition((totalBuckets * 2).min(20000).toInt,
        col("date"), col(bCol))
      .drop(bCol)
  }

  /** Types `xxhash64` can hash (maps are rejected by Spark's HashExpression). */
  private def hashableType(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case _: org.apache.spark.sql.types.MapType => false
      case s: StructType => s.fields.forall(f => hashableType(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hashableType(a.elementType)
      case _ => true
    }

}

/** Spark file-writer commit protocol for log tables: each task attempt
  * writes straight to its final file name (`part-<task>-<job uuid>_<attempt
  * id>`) and commits nothing — the table commit is
  * the log version that names the files. A failed attempt's partial file
  * is never named by any version.
  */
private[store] class LogCommitProtocol(jobId: String, root: String)
    extends org.apache.spark.internal.io.FileCommitProtocol with Serializable {
  import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
  import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
  import org.apache.spark.internal.io.FileNameSpec

  override def setupJob(job: JobContext): Unit = ()
  override def commitJob(job: JobContext, msgs: Seq[TaskCommitMessage]): Unit = ()
  override def abortJob(job: JobContext): Unit = ()
  override def setupTask(task: TaskAttemptContext): Unit = ()
  override def newTaskTempFile(task: TaskAttemptContext, dir: Option[String],
      ext: String): String = newTaskTempFile(task, dir, FileNameSpec("", ext))
  override def newTaskTempFile(task: TaskAttemptContext, dir: Option[String],
      spec: FileNameSpec): String = {
    val id = task.getTaskAttemptID
    val name = f"${spec.prefix}part-${id.getTaskID.getId}%05d-${jobId}_${id.getId}${spec.suffix}"
    dir.fold(new Path(root, name))(d => new Path(new Path(root, d), name)).toString
  }
  override def newTaskTempFileAbsPath(task: TaskAttemptContext,
      absoluteDir: String, ext: String): String =
    throw new UnsupportedOperationException("log tables write under the table dir")
  override def commitTask(task: TaskAttemptContext): TaskCommitMessage =
    new TaskCommitMessage(Nil)
  override def abortTask(task: TaskAttemptContext): Unit = ()
}

/** Per-file (path, bytes, rows) of one write, gathered on the executors
  * and collected into `added` on the driver.
  */
private[store] class FileTracker(conf: SerializableConfiguration)
    extends org.apache.spark.sql.execution.datasources.WriteJobStatsTracker {
  import org.apache.spark.sql.execution.datasources.{WriteTaskStats, WriteTaskStatsTracker}

  @transient lazy val added = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()

  override def newTaskInstance(): WriteTaskStatsTracker = new WriteTaskStatsTracker {
    private val rows = scala.collection.mutable.LinkedHashMap[String, Long]()
    private var cur: String = _
    private var n = 0L
    private def flush(): Unit = if (cur != null) rows(cur) = n
    override def newPartition(values: InternalRow): Unit = ()
    override def newFile(path: String): Unit = { flush(); cur = path; n = 0L }
    override def newRow(path: String, row: InternalRow): Unit = {
      if (path ne cur) { flush(); cur = path; n = rows.getOrElse(path, 0L) }
      n += 1
    }
    override def closeFile(path: String): Unit = ()
    override def getFinalStats(taskCommitTime: Long): WriteTaskStats = {
      flush()
      FileStats(rows.toSeq.map { case (p, r) =>
        val path = new Path(p)
        (p, path.getFileSystem(conf.value).getFileStatus(path).getLen, r)
      })
    }
  }

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    stats.foreach { case FileStats(files) => added ++= files; case _ => () }
}

private[store] final case class FileStats(files: Seq[(String, Long, Long)])
  extends org.apache.spark.sql.execution.datasources.WriteTaskStats
