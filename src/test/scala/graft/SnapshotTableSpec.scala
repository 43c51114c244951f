package graft

import graft.table.SnapshotTable
import org.apache.spark.ListenerBusDrain.jobsStartedBy
import org.apache.spark.sql.{DataFrame, LineageCut, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The snapshot-log table format: atomic append, time travel, incremental
  * scan, optimistic-concurrency rebase, orphan expiry. All paths use a
  * `file:` URI so every byte of bookkeeping rides the Hadoop FileSystem
  * layer (the HDFS/S3A shape). */
class SnapshotTableSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freshLoc(): String =
    "file:" + java.nio.file.Files.createTempDirectory("graft-table").toString

  /** Writes each frame through one [[SnapshotTable.Writer]] and commits
    * the entries as one snapshot. */
  private def append(loc: String, parts: Map[String, DataFrame],
                     summary: Map[String, String] = Map.empty,
                     beforeInstall: () => Unit = () => ()): SnapshotTable.Meta = {
    val schemas = parts.map { case (c, d) => c -> d.schema }
    val w = SnapshotTable.writer(spark, loc, schemas)
    val entries = try parts.toVector.flatMap { case (c, d) => LineageCut.rows(d, "append")(_
      .mapPartitions(rows => w.inTask(out => rows.foreach(out.write(c, _)))).collect())
    } finally w.release()
    SnapshotTable.commit(spark, loc, entries, schemas, summary, beforeInstall = beforeInstall)
  }

  private def df(ids: Int*) = {
    import spark.implicits._
    ids.toDF("id")
  }

  test("append + read roundtrip; snapshots chain with increasing sequence numbers") {
    val loc = freshLoc()
    append(loc, Map("rows" -> df(1, 2, 3)))
    append(loc, Map("rows" -> df(4, 5)))
    val snaps = SnapshotTable.snapshots(spark, loc)
    assert(snaps.map(_.seq) == Vector(1L, 2L))
    assert(snaps(1).parentId == snaps(0).id)
    val got = SnapshotTable.read(spark, loc, "rows")
      .collect().map(_.getInt(0)).sorted.toVector
    assert(got == Vector(1, 2, 3, 4, 5))
  }

  test("time travel: asOf an earlier snapshot sees only its files") {
    val loc = freshLoc()
    val m1 = append(loc, Map("rows" -> df(1, 2, 3)))
    append(loc, Map("rows" -> df(4, 5)))
    val atFirst = SnapshotTable.read(spark, loc, "rows",
      asOf = Some(m1.currentSnapshotId))
      .collect().map(_.getInt(0)).sorted.toVector
    assert(atFirst == Vector(1, 2, 3))
  }

  test("incremental scan: readAdded returns exactly one snapshot's appended rows") {
    val loc = freshLoc()
    append(loc, Map("rows" -> df(1, 2, 3)))
    val m2 = append(loc, Map("rows" -> df(4, 5)))
    val added = SnapshotTable.readAdded(spark, loc, m2.currentSnapshotId, "rows")
      .collect().map(_.getInt(0)).sorted.toVector
    assert(added == Vector(4, 5))
  }

  test("multi-component append is one atomic snapshot") {
    val loc = freshLoc()
    import spark.implicits._
    append(loc, Map(
      "a" -> df(1), "b" -> Seq("x", "y").toDF("s")))
    val snaps = SnapshotTable.snapshots(spark, loc)
    assert(snaps.size == 1)
    assert(SnapshotTable.read(spark, loc, "a").count() == 1)
    assert(SnapshotTable.read(spark, loc, "b").count() == 2)
    // both components share the single snapshot's manifest
    assert(SnapshotTable.addedFiles(spark, loc, snaps.head.id, "a").nonEmpty)
    assert(SnapshotTable.addedFiles(spark, loc, snaps.head.id, "b").nonEmpty)
  }

  test("manifest stats carry parquet-footer row counts and byte sizes") {
    val loc = freshLoc()
    val m = append(loc,
      Map("rows" -> df(1 to 100: _*).coalesce(2)))
    val files = SnapshotTable.addedFiles(spark, loc, m.currentSnapshotId, "rows")
    assert(files.map(_.rows).sum == 100L)
    assert(files.forall(_.bytes > 0L))
  }

  test("commit conflict: loser detects the winner, rebases, and both snapshots survive") {
    val loc = freshLoc()
    append(loc, Map("rows" -> df(1)))
    // the hook commits a competing snapshot between the loser's base-read
    // and install — a deterministic lost race
    append(loc, Map("rows" -> df(3, 4)),
      summary = Map("who" -> "loser"),
      beforeInstall =
        () => append(loc, Map("rows" -> df(2)),
          summary = Map("who" -> "winner")): Unit)
    val snaps = SnapshotTable.snapshots(spark, loc)
    assert(snaps.size == 3)
    // the rebased commit's parent is the winner, not the stale base
    val winner = snaps.find(_.summary.get("who").contains("winner")).get
    val loser = snaps.find(_.summary.get("who").contains("loser")).get
    assert(loser.parentId == winner.id)
    assert(loser.seq == winner.seq + 1)
    // no rows lost
    assert(SnapshotTable.read(spark, loc, "rows")
      .collect().map(_.getInt(0)).sorted.toVector == Vector(1, 2, 3, 4))
  }

  test("expireOrphans removes uncommitted data dirs, keeps committed ones") {
    val loc = freshLoc()
    append(loc, Map("rows" -> df(1, 2)))
    // simulate a writer killed after its data write but before commit
    df(9).write.parquet(s"$loc/data/deadbeef-orphan")
    assert(SnapshotTable.expireOrphans(spark, loc) == 1)
    assert(SnapshotTable.read(spark, loc, "rows").count() == 2)
    assert(SnapshotTable.expireOrphans(spark, loc) == 0)
  }

  test("expireOrphans removes an unlisted file from a committed dir, keeps every listed one") {
    val loc = freshLoc()
    val m = append(loc, Map("rows" -> df(1 to 20: _*).repartition(2)))
    val listed = SnapshotTable.addedFiles(spark, loc, m.currentSnapshotId, "rows")
    val root = new org.apache.hadoop.fs.Path(loc)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    // a failed task attempt's file, next to the files its retry committed
    val first = new org.apache.hadoop.fs.Path(root, listed.head.path)
    val planted = new org.apache.hadoop.fs.Path(first.getParent, "part-0-999999.snappy.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, first, fs, planted, false, conf)
    assert(SnapshotTable.expireOrphans(spark, loc) == 1)
    assert(!fs.exists(planted))
    assert(listed.forall(e => fs.exists(new org.apache.hadoop.fs.Path(root, e.path))))
    assert(SnapshotTable.read(spark, loc, "rows").collect().map(_.getInt(0)).sorted.toVector ==
      (1 to 20).toVector)
    assert(SnapshotTable.expireOrphans(spark, loc) == 0)
  }

  test("corrupt current metadata fails with a clear parse error, not a hang or garbage read") {
    val loc = freshLoc()
    append(loc, Map("rows" -> df(1, 2)))
    // clobber v1 with truncated JSON (simulates a torn non-atomic write on
    // a filesystem without atomic rename — the documented caveat)
    val root = new org.apache.hadoop.fs.Path(loc)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(root, "metadata/v1.metadata.json"), true)
    out.write("""{"format-version":1,"table-uu""".getBytes("UTF-8"))
    out.close()
    val e = intercept[Exception] { SnapshotTable.load(spark, loc) }
    assert(e.getMessage != null)
  }

  test("version-hint and metadata versions are discoverable; load of empty dir is None") {
    val loc = freshLoc()
    assert(SnapshotTable.load(spark, loc).isEmpty)
    append(loc, Map("rows" -> df(1)))
    append(loc, Map("rows" -> df(2)))
    val meta = SnapshotTable.load(spark, loc).get
    assert(meta.currentSnapshotId == meta.snapshots.last.id)
    assert(meta.lastSeq == 2L)
  }

  test("schemas ride in manifests: planning a read starts no Spark job, time travel keeps its schema") {
    import spark.implicits._
    val loc = freshLoc()
    val m1 = append(loc, Map("rows" -> df(1, 2)))
    val m2 = append(loc,
      Map("rows" -> Seq((3, "c")).toDF("id", "tag")))
    val (cur, j1) = jobsStartedBy(spark.sparkContext)(SnapshotTable.read(spark, loc, "rows"))
    val (old, j2) = jobsStartedBy(spark.sparkContext)(
      SnapshotTable.read(spark, loc, "rows", asOf = Some(m1.currentSnapshotId)))
    val (added, j3) = jobsStartedBy(spark.sparkContext)(
      SnapshotTable.readAdded(spark, loc, m2.currentSnapshotId, "rows"))
    assert((j1, j2, j3) == ((0, 0, 0)))
    assert(old.columns.toSeq == Seq("id"))
    assert(cur.columns.toSeq == Seq("id", "tag"))
    assert(cur.as[(Int, String)].collect().sorted.toSeq ==
      Seq((1, null), (2, null), (3, "c")))
    assert(added.as[(Int, String)].collect().toSeq == Seq((3, "c")))
    // the summary carries exact per-component row totals
    val snaps = SnapshotTable.snapshots(spark, loc)
    assert(snaps.map(_.summary(SnapshotTable.rowsKey("rows"))) == Vector("2", "1"))
  }

  test("a manifest without a schema (older layout) still reads, by inference") {
    val loc = freshLoc()
    val root = new org.apache.hadoop.fs.Path(loc)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    df(7, 8).coalesce(1).write.parquet(s"$loc/data/legacy-rows")
    val file = fs.listStatus(new org.apache.hadoop.fs.Path(root, "data/legacy-rows"))
      .find(_.getPath.getName.endsWith(".parquet")).get
    def put(rel: String, text: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(root, rel), false)
      try out.write(text.getBytes("UTF-8")) finally out.close()
    }
    put("metadata/manifest-legacy.json",
      s"""{"entries":[{"path":"data/legacy-rows/${file.getPath.getName}",""" +
        s""""component":"rows","rows":2,"bytes":${file.getLen}}]}""")
    put("metadata/v1.metadata.json",
      """{"format-version":1,"table-uuid":"legacy","last-sequence-number":1,""" +
        """"current-snapshot-id":1,"snapshots":[{"snapshot-id":1,""" +
        """"parent-snapshot-id":-1,"sequence-number":1,"operation":"append",""" +
        """"manifests":["metadata/manifest-legacy.json"],"summary":{}}]}""")
    val (rows, jobs) = jobsStartedBy(spark.sparkContext)(SnapshotTable.read(spark, loc, "rows"))
    assert(jobs >= 1, "a schema-less manifest should be read through inference")
    assert(rows.collect().map(_.getInt(0)).sorted.toVector == Vector(7, 8))
    assert(SnapshotTable.readAdded(spark, loc, 1L, "rows").count() == 2)
    // no summary total recorded: the row count comes from the manifest
    val snap = SnapshotTable.snapshots(spark, loc).head
    assert(SnapshotTable.addedRows(spark, loc, snap, "rows") == 2L)
    // a later append on top of the old layout records its schema again
    append(loc, Map("rows" -> df(9)))
    val (all, j) = jobsStartedBy(spark.sparkContext)(SnapshotTable.read(spark, loc, "rows"))
    assert(j == 0)
    assert(all.collect().map(_.getInt(0)).sorted.toVector == Vector(7, 8, 9))
  }

  test("a read over many files plans from the manifest: no listing job before the action") {
    val loc = freshLoc()
    append(loc, Map("rows" -> spark.range(0L, 400L, 1L, 40).toDF("id")))
    assert(SnapshotTable.dataFiles(spark, loc, "rows").size == 40)
    val (rows, jobs) = jobsStartedBy(spark.sparkContext)(SnapshotTable.read(spark, loc, "rows"))
    assert(jobs == 0)
    assert(rows.collect().map(_.getLong(0)).sorted.toVector == (0L until 400L).toVector)
  }
}
