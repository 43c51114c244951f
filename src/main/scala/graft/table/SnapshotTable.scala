package graft.table

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, ParquetFiles, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.OutputWriter
import org.apache.spark.sql.types.{DataType, StructType}

/** From-scratch snapshot-log table format, shaped after the public Apache
  * Iceberg table spec (v1/v2, iceberg.apache.org/spec) and its
  * HadoopTables file layout — the commit substrate the north rule names
  * ("per-partition lineage + metrics committed alongside Iceberg snapshot
  * checkpoints"; reference commit point: the ftmstore transaction at
  * `/root/reference/ingestors/manager.py:120-123`).
  *
  * Layout under `location/`:
  * {{{
  *   metadata/v<N>.metadata.json    version-chained table metadata; the
  *                                  atomic-swap commit point
  *   metadata/version-hint.text     latest-N hint (best effort, like
  *                                  HadoopTableOperations)
  *   metadata/manifest-<uuid>.json  immutable manifest: data files added
  *                                  by one snapshot, with per-file stats
  *   data/<uuid>-<component>/       parquet data files, one per writing
  *                                  task, under attempt-unique names —
  *                                  invisible until a metadata version
  *                                  references them
  * }}}
  *
  * Semantics reproduced from the spec:
  *   - snapshots are immutable and form a parent chain; each snapshot
  *     carries the COMPLETE list of manifests live at that snapshot (the
  *     inlined manifest-list), so reads plan from one metadata file;
  *   - a commit is: Spark tasks write the data files and return their
  *     entries ([[SnapshotTable.Writer]], Iceberg's Spark write model: no
  *     Hadoop output committer), then the driver writes the manifest under
  *     a fresh UUID name and atomically installs `v(N+1).metadata.json`
  *     ([[SnapshotTable.commit]]). Readers only ever see
  *     fully-committed versions; a killed writer leaves orphan data files
  *     that no snapshot references (cleaned by `expireOrphans`, the
  *     remove-orphan-files action);
  *   - optimistic concurrency: if v(N+1) already exists the committer
  *     lost the race — re-read, rebase its snapshot onto the winner's
  *     chain and retry at v(N+2). Install uses create-no-overwrite of a
  *     commit-claim file, which is atomic on HDFS and local FS (the same
  *     caveat HadoopTableOperations documents applies to S3 without a
  *     lock manager);
  *   - time travel: `read(..., asOf=Some(snapshotId))` plans from that
  *     snapshot's manifest list, and a read plans from the manifest's
  *     paths and lengths alone — no directory listing, no footer read;
  *   - per-file stats (row count, bytes) are taken by the task that wrote
  *     the file — rows counted as written, bytes from the file's status —
  *     and travel to the driver with the file entry, as Iceberg's
  *     `DataWriter` returns a `DataFile` with its metrics.
  *
  * Multiple named components (spans/meta/lineage/children) ride in ONE
  * table so a pipeline level commits all four ATOMICALLY in a single
  * metadata swap — strictly stronger than the previous per-dir
  * `_COMPLETE` marker protocol, where a kill between the four writes and
  * the marker left a torn level on disk (invisible, but re-done in full).
  *
  * All I/O goes through `org.apache.hadoop.fs.FileSystem`, so `location`
  * may be local, `file:`, HDFS, or S3A — nothing here touches
  * `java.io.File`.
  *
  * == Iceberg-layout conformance (honesty note) ==
  *
  * The Iceberg LIBRARY is not available offline, so interop is documented
  * rather than integration-tested. What an actual Iceberg/HadoopTables
  * reader WOULD accept from this layout, and where it diverges:
  *
  *  - CONFORMS in protocol: version-chained `metadata/v<N>.metadata.json`
  *    with atomic create-no-overwrite install, `version-hint.text`,
  *    immutable snapshots with parent ids and sequence numbers,
  *    uniquely-named uncommitted data files written by tasks and committed
  *    as a list by the driver, file-level orphan expiry, optimistic
  *    rebase-and-retry — the HadoopTableOperations commit protocol and
  *    its S3 caveat, faithfully.
  *  - DIVERGES in serialization, deliberately: manifests are JSON, not
  *    Avro `manifest-file`/`manifest-list` entries; the snapshot's
  *    manifest list is inlined into the metadata JSON instead of a
  *    separate manifest-list file. Schemas ride in the (immutable)
  *    manifests as Spark schema JSON, one per component, instead of the
  *    metadata file's `schemas` list with schema ids — so the metadata
  *    JSON does not grow with every snapshot; record counts ride in the
  *    snapshot summaries, still JSON. Table metadata carries no
  *    `schemas`/`partition-specs` fields (components stand in for
  *    partition identity). An Iceberg reader would open
  *    `v<N>.metadata.json` but reject it at field validation. Manifests
  *    written before schemas were recorded carry none; reads of those
  *    fall back to inferring the schema from the parquet footers.
  *  - DIVERGES in stats: per-file row/byte counts only (taken by the
  *    writing task); no per-column bounds/null counts, so a
  *    scan here prunes by component + snapshot, not by column range.
  *
  * If the target ever becomes "real Iceberg", the migration is contained:
  * swap the JSON manifest writer/reader for Avro manifest + manifest-list
  * files and emit the spec's required metadata fields — the commit
  * protocol, snapshot semantics, and every caller stay as-is.
  */
object SnapshotTable {

  /** One parquet data file owned by a snapshot. */
  final case class DataFileEntry(path: String, component: String,
                                 rows: Long, bytes: Long)

  final case class Snapshot(id: Long, parentId: Long, seq: Long,
                            operation: String, manifests: Vector[String],
                            summary: Map[String, String])

  /** One immutable manifest: the files a snapshot added and each added
    * component's Spark schema JSON (empty for manifests written before
    * schemas were recorded). */
  private final case class Manifest(entries: Vector[DataFileEntry],
                                    schemas: Map[String, String])

  final case class Meta(tableUuid: String, lastSeq: Long,
                        currentSnapshotId: Long, snapshots: Vector[Snapshot]) {
    def current: Option[Snapshot] = snapshots.find(_.id == currentSnapshotId)
    def snapshot(id: Long): Option[Snapshot] = snapshots.find(_.id == id)
  }

  private def fsFor(spark: SparkSession, location: String): (FileSystem, Path) = {
    val root = new Path(location)
    (root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  // ---- JSON (writer here; parser = graft.extract.JsonMini) ----

  private def jStr(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private def metaJson(m: Meta): String = {
    val snaps = m.snapshots.map { s =>
      val mans = s.manifests.map(jStr).mkString("[", ",", "]")
      val summ = s.summary.toVector.sortBy(_._1)
        .map { case (k, v) => s"${jStr(k)}:${jStr(v)}" }.mkString("{", ",", "}")
      s"""{"snapshot-id":${s.id},"parent-snapshot-id":${s.parentId},""" +
        s""""sequence-number":${s.seq},"operation":${jStr(s.operation)},""" +
        s""""manifests":$mans,"summary":$summ}"""
    }.mkString("[", ",", "]")
    s"""{"format-version":1,"table-uuid":${jStr(m.tableUuid)},""" +
      s""""last-sequence-number":${m.lastSeq},""" +
      s""""current-snapshot-id":${m.currentSnapshotId},"snapshots":$snaps}"""
  }

  private def manifestJson(m: Manifest): String =
    m.entries.map { e =>
      s"""{"path":${jStr(e.path)},"component":${jStr(e.component)},""" +
        s""""rows":${e.rows},"bytes":${e.bytes}}"""
    }.mkString("""{"entries":[""", ",", "],") +
      m.schemas.toVector.sortBy(_._1)
        .map { case (c, j) => s"${jStr(c)}:${jStr(j)}" }
        .mkString(""""schemas":{""", ",", "}}")

  import graft.extract.JsonMini
  private def fld(o: Any, k: String): Any = o match {
    case obj: JsonMini.JObj =>
      obj.fields.collectFirst { case (`k`, v) => v }
        .getOrElse(sys.error(s"missing field $k"))
    case other => sys.error(s"expected object, got $other")
  }
  // JsonMini numbers are Doubles: exact for |n| < 2^53, which bounds all
  // fields here (sequential snapshot ids/versions, per-file rows/bytes)
  private def asLong(v: Any): Long = v.asInstanceOf[Double].toLong
  private def asStr(v: Any): String = v.asInstanceOf[String]

  private def parseMeta(s: String): Meta = {
    val root = JsonMini.parse(s)
    val snaps = fld(root, "snapshots").asInstanceOf[Vector[Any]].map { sn =>
      Snapshot(
        id = asLong(fld(sn, "snapshot-id")),
        parentId = asLong(fld(sn, "parent-snapshot-id")),
        seq = asLong(fld(sn, "sequence-number")),
        operation = asStr(fld(sn, "operation")),
        manifests = fld(sn, "manifests").asInstanceOf[Vector[Any]].map(asStr),
        summary = fld(sn, "summary").asInstanceOf[JsonMini.JObj]
          .fields.map { case (k, v) => k -> asStr(v) }.toMap)
    }
    Meta(asStr(fld(root, "table-uuid")), asLong(fld(root, "last-sequence-number")),
      asLong(fld(root, "current-snapshot-id")), snaps)
  }

  private def parseManifest(s: String): Manifest = {
    val root = JsonMini.parse(s)
    val entries = fld(root, "entries").asInstanceOf[Vector[Any]].map { e =>
      DataFileEntry(asStr(fld(e, "path")), asStr(fld(e, "component")),
        asLong(fld(e, "rows")), asLong(fld(e, "bytes")))
    }
    val schemas = root.asInstanceOf[JsonMini.JObj].fields.collectFirst {
      case ("schemas", o: JsonMini.JObj) => o.fields.map { case (c, j) => c -> asStr(j) }.toMap
    }.getOrElse(Map.empty[String, String])
    Manifest(entries, schemas)
  }

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  private def writeText(fs: FileSystem, p: Path, s: String,
                        overwrite: Boolean): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  // ---- version chain ----

  private val VersionRe = "v(\\d+)\\.metadata\\.json".r

  /** Highest committed version number, or 0 if the table doesn't exist. */
  def currentVersion(fs: FileSystem, root: Path): Long = {
    val md = new Path(root, "metadata")
    if (!fs.exists(md)) return 0L
    fs.listStatus(md).iterator.map(_.getPath.getName).collect {
      case VersionRe(n) => n.toLong
    }.foldLeft(0L)(math.max)
  }

  /** Load the latest committed metadata (None for a nonexistent table). */
  def load(spark: SparkSession, location: String): Option[Meta] = {
    val (fs, root) = fsFor(spark, location)
    val v = currentVersion(fs, root)
    if (v == 0L) None
    else Some(parseMeta(readText(fs,
      new Path(root, s"metadata/v$v.metadata.json"))))
  }

  def snapshots(spark: SparkSession, location: String): Vector[Snapshot] =
    load(spark, location).map(_.snapshots).getOrElse(Vector.empty)

  /** Summary key of a snapshot's exact row total for `component`, recorded
    * at commit from the manifest entries (Iceberg's `added-records`). */
  def rowsKey(component: String): String = s"$component-rows"

  /** Rows `snap` added to `component`: its summary total, or — for
    * snapshots committed before totals were recorded — the sum of its
    * manifest's per-file stats. */
  def addedRows(spark: SparkSession, location: String, snap: Snapshot,
                component: String): Long =
    snap.summary.get(rowsKey(component)).map(_.toLong).getOrElse(
      addedFiles(spark, location, snap.id, component).map(_.rows).sum)

  /** The one writer of this table's data files, shipped to Spark tasks:
    * each task writes its own files and returns their entries, and the
    * driver [[commit]]s the entries it collected — the Iceberg Spark write
    * model. A task opens one file per component lazily, on that
    * component's first row, at `data/<uuid>-<component>/part-<partition
    * id>-<task attempt id><ext>`. The attempt-unique name is what keeps
    * the commit atomic without an output committer: a failed, retried or
    * speculative attempt never overwrites the file of the attempt whose
    * result the driver collected, so its files are left unlisted — orphans
    * for [[expireOrphans]] — and only the commit's metadata swap publishes
    * anything. Release with [[release]] once the call's jobs end. */
  final class Writer private[SnapshotTable] (location: String, uuid: String,
                                             files: ParquetFiles.Writers)
      extends Serializable {

    /** Task side: runs `body` over a [[TaskFiles]] and returns the entries
      * of the files it wrote, with rows counted while writing and bytes
      * from each file's status. If `body` throws, the files it opened are
      * closed and left unlisted. */
    def inTask(body: TaskFiles => Unit): Iterator[DataFileEntry] = {
      val out = new TaskFiles
      try body(out) catch { case t: Throwable => out.abort(); throw t }
      out.close().iterator
    }

    final class TaskFiles private[Writer] {
      private final class Open(val writer: OutputWriter) { var rows = 0L }
      private val task = TaskContext.get()
      private val name =
        s"part-${task.partitionId()}-${task.taskAttemptId()}${files.extension}"
      private val open = scala.collection.mutable.LinkedHashMap.empty[String, Open]

      private def rel(component: String) = s"data/$uuid-$component/$name"

      def write(component: String, row: InternalRow): Unit = {
        val f = open.getOrElseUpdate(component,
          new Open(files.open(component, s"$location/${rel(component)}")))
        f.writer.write(row)
        f.rows += 1
      }

      private[Writer] def close(): Vector[DataFileEntry] =
        open.toVector.map { case (c, f) =>
          DataFileEntry(rel(c), c, f.rows, files.close(c, f.writer))
        }

      private[Writer] def abort(): Unit = open.values.foreach { f =>
        try f.writer.close() catch { case _: Throwable => () }
      }
    }

    def release(): Unit = files.destroy()
  }

  /** A [[Writer]] of `schemas` (component → schema) into `location`. */
  def writer(spark: SparkSession, location: String,
             schemas: Map[String, StructType]): Writer =
    new Writer(location, java.util.UUID.randomUUID().toString,
      ParquetFiles.writers(spark, schemas))

  /** Commit `entries` (data files already written, e.g. by a [[Writer]])
    * as ONE atomic snapshot. Each component of `schemas` gets its schema in
    * the manifest and its row total in the summary under [[rowsKey]]; a
    * component with no entries reads as an empty frame of its schema.
    * Retries `maxAttempts` times on version conflicts, rebasing onto the
    * winner's snapshot chain. Returns the committed metadata. */
  def commit(spark: SparkSession, location: String,
             entries: Seq[DataFileEntry], schemas: Map[String, StructType],
             summary: Map[String, String] = Map.empty,
             maxAttempts: Int = 5,
             /* test seam: runs between base-version read and install, so a
              * spec can deterministically lose the race and exercise the
              * rebase-retry path */
             beforeInstall: () => Unit = () => ()): Meta = {
    val (fs, root) = fsFor(spark, location)
    fs.mkdirs(new Path(root, "metadata"))
    val uuid = java.util.UUID.randomUUID().toString

    // 1. immutable manifest for this snapshot's added files
    val manifestRel = s"metadata/manifest-$uuid.json"
    writeText(fs, new Path(root, manifestRel),
      manifestJson(Manifest(entries.toVector, schemas.map { case (c, st) => c -> st.json })),
      overwrite = false)
    val fullSummary = summary ++ schemas.keys.map { c =>
      rowsKey(c) -> entries.filter(_.component == c).map(_.rows).sum.toString
    }

    // 2. optimistic metadata swap
    var attempt = 0
    while (true) {
      attempt += 1
      val base = load(spark, location)
      val baseVersion = currentVersion(fs, root)
      val parent = base.flatMap(_.current)
      val snapId = base.map(_.snapshots.map(_.id).foldLeft(0L)(math.max) + 1)
        .getOrElse(1L)
      val seq = base.map(_.lastSeq + 1).getOrElse(1L)
      val snap = Snapshot(snapId, parent.map(_.id).getOrElse(-1L), seq,
        "append", parent.map(_.manifests).getOrElse(Vector.empty) :+ manifestRel,
        fullSummary)
      val next = Meta(
        base.map(_.tableUuid).getOrElse(java.util.UUID.randomUUID().toString),
        seq, snapId, base.map(_.snapshots).getOrElse(Vector.empty) :+ snap)
      if (attempt == 1) beforeInstall()
      val target = new Path(root, s"metadata/v${baseVersion + 1}.metadata.json")
      // tmp + rename: readers never see partial metadata (rename is atomic
      // on HDFS and POSIX). On HDFS rename also refuses an existing target,
      // making claim + content one atomic step; on local FS / S3 the
      // exists-check narrows but cannot close the race — the exact caveat
      // HadoopTableOperations documents (use a lock manager there).
      val tmp = new Path(root,
        s"metadata/tmp-$uuid-${baseVersion + 1}.json")
      writeText(fs, tmp, metaJson(next), overwrite = true)
      val installed = !fs.exists(target) &&
        (try fs.rename(tmp, target)
         catch { case _: java.io.IOException => false })
      if (!installed) { try fs.delete(tmp, false) catch { case _: java.io.IOException => () } }
      if (installed) {
        // best-effort hint, like HadoopTableOperations.writeVersionHint
        try writeText(fs, new Path(root, "metadata/version-hint.text"),
          (baseVersion + 1).toString, overwrite = true)
        catch { case _: java.io.IOException => () }
        return next
      }
      if (attempt >= maxAttempts)
        throw new java.io.IOException(
          s"commit conflict on $location after $maxAttempts attempts " +
            s"(lost the race to v${baseVersion + 1} repeatedly)")
    }
    sys.error("unreachable")
  }

  private def snapshotOf(spark: SparkSession, location: String,
                         asOf: Option[Long]): Snapshot = {
    val meta = load(spark, location)
      .getOrElse(throw new java.io.FileNotFoundException(
        s"no committed snapshot table at $location"))
    asOf match {
      case Some(id) => meta.snapshot(id).getOrElse(
        throw new NoSuchElementException(s"snapshot $id not in $location"))
      case None => meta.current.getOrElse(
        throw new NoSuchElementException(s"table $location has no snapshot"))
    }
  }

  /** The files of `component` the given manifests list, with the schema
    * the newest of them recorded for it (None: infer from the footers). */
  private def plan(spark: SparkSession, location: String,
                   manifests: Vector[String], component: String)
      : (Vector[DataFileEntry], Option[StructType]) = {
    val (fs, root) = fsFor(spark, location)
    val ms = manifests.map(m => parseManifest(readText(fs, new Path(root, m))))
    (ms.flatMap(_.entries).filter(_.component == component),
     ms.reverseIterator.flatMap(_.schemas.get(component)).nextOption()
       .map(j => DataType.fromJson(j).asInstanceOf[StructType]))
  }

  /** The rows of the listed `entries` under `schema`, planned from their
    * paths and lengths alone, so no listing or footer-read job runs; no
    * entries read as an empty frame of `schema`. The entries may be a
    * snapshot's or a [[Writer]]'s not yet committed. */
  def scan(spark: SparkSession, location: String, entries: Seq[DataFileEntry],
           schema: StructType): DataFrame = {
    val (fs, root) = fsFor(spark, location)
    ParquetFiles.scan(spark, schema,
      entries.map(e => (fs.makeQualified(new Path(root, e.path)), e.bytes)))
  }

  /** [[scan]] of planned files; schema-less (older) manifests read
    * through inference. */
  private def scanPlanned(spark: SparkSession, location: String,
                          planned: (Vector[DataFileEntry], Option[StructType]),
                          missing: => String): DataFrame = planned match {
    case (entries, Some(st)) => scan(spark, location, entries, st)
    case (entries, None) =>
      require(entries.nonEmpty, missing)
      spark.read.parquet(entries.map(e => s"$location/${e.path}"): _*)
  }

  /** All data files of `component` live at the given (default: current)
    * snapshot. */
  def dataFiles(spark: SparkSession, location: String, component: String,
                asOf: Option[Long] = None): Vector[DataFileEntry] =
    plan(spark, location, snapshotOf(spark, location, asOf).manifests, component)._1

  /** Snapshot-scoped read: plans exactly the files the snapshot's
    * manifests list — file-level pruning from one metadata read, the
    * Iceberg planning path — under the schema they recorded, so no
    * Spark job runs until the caller's action. */
  def read(spark: SparkSession, location: String, component: String,
           asOf: Option[Long] = None): DataFrame =
    scanPlanned(spark, location,
      plan(spark, location, snapshotOf(spark, location, asOf).manifests, component),
      s"component '$component' has no data files at $location" +
        asOf.map(id => s" snapshot $id").getOrElse(""))

  /** Data files ADDED by exactly one snapshot (its own manifest, not its
    * ancestors') — the incremental-scan planning path. */
  def addedFiles(spark: SparkSession, location: String, snapshotId: Long,
                 component: String): Vector[DataFileEntry] =
    plan(spark, location, addedManifest(spark, location, snapshotId), component)._1

  private def addedManifest(spark: SparkSession, location: String,
                            snapshotId: Long): Vector[String] =
    Vector(snapshotOf(spark, location, Some(snapshotId)).manifests.last)

  /** Incremental read: only the rows one snapshot appended. */
  def readAdded(spark: SparkSession, location: String, snapshotId: Long,
                component: String): DataFrame =
    scanPlanned(spark, location,
      plan(spark, location, addedManifest(spark, location, snapshotId), component),
      s"snapshot $snapshotId added no '$component' files at $location")

  /** Delete every data file no manifest lists — the remove-orphan-files
    * maintenance action; safe because writers only publish files by
    * committing metadata. A dir no manifest lists a file of goes whole (a
    * writer killed before its commit); in a committed dir, each unlisted
    * file goes (a failed or speculative task attempt). Returns the number
    * of dirs and files removed. */
  def expireOrphans(spark: SparkSession, location: String): Int = {
    val (fs, root) = fsFor(spark, location)
    val dataDir = new Path(root, "data")
    if (!fs.exists(dataDir)) return 0
    val live: Set[String] = load(spark, location).toVector
      .flatMap(_.snapshots.flatMap(_.manifests).distinct)
      .flatMap(mp => parseManifest(readText(fs, new Path(root, mp))).entries)
      .map(_.path).toSet // data/<dir>/<file>
    val liveDirs = live.map(_.split('/')(1))
    var removed = 0
    def drop(p: Path): Unit = { fs.delete(p, true); removed += 1 }
    fs.listStatus(dataDir).foreach { st =>
      val dir = st.getPath.getName
      if (!liveDirs.contains(dir)) drop(st.getPath)
      else fs.listStatus(st.getPath).foreach { f =>
        if (!live.contains(s"data/$dir/${f.getPath.getName}")) drop(f.getPath)
      }
    }
    removed
  }
}
