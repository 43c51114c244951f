package graft.sources

import graft.core.PendingDoc
import graft.pipeline.Pipeline
import java.net.URI
import org.apache.hadoop.fs.Path
import org.apache.spark.SerializableWritable
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Input sources for the extraction pipeline.
  *
  * `fromDirectory` is the DirectoryIngestor analogue
  * (`ingestors/directory.py`): like the reference's
  * crawler, it walks the tree and queues every file but the junk entries.
  * The walk goes through the Hadoop FileSystem (local, HDFS, S3A) on the
  * driver, pruning [[SkipEntries]] by name and keeping zero-byte files and
  * names that start with `.` or `_` (Spark's `binaryFile` reader drops all
  * three), so building a source runs no job. Tasks read the bytes in
  * `Pipeline.partitionCountFor` slices (never more than there are files),
  * packed by file size so no slice holds much more than its share of the
  * bytes. A file over the source's byte cap is not read: it becomes an
  * [[OversizeMime]] row. Document ids are the paths relative to the root,
  * matching the reference's Folder→child naming. */
object Sources {

  /** Junk entries the reference never queues (`directory.py:11`
    * SKIP_ENTRIES): the walk prunes a file or directory of these names. */
  val SkipEntries: Set[String] = Set(".git", ".hg", "__MACOSX", ".gitignore")

  /** Mime hint planted on the row of a listed file over the byte cap:
    * [[graft.pipeline.Dispatch]] converts it into the reference's
    * processingError failure row (`manager.py:229-234`) so an over-cap
    * file surfaces in the lineage instead of vanishing. */
  val OversizeMime = "application/x-graft-oversize"

  /** One listed file: its root-relative id, its path URI and its length. */
  private[graft] final case class Listed(id: String, path: String, length: Long) {
    def name: String = id.substring(id.lastIndexOf('/') + 1)
  }

  def fromDirectory(spark: SparkSession, root: String): Dataset[PendingDoc] =
    directoryDocs(spark, list(spark, root))

  /** One document per listed file; the cap is 512 MiB. */
  private[graft] def directoryDocs(spark: SparkSession,
                                   files: Seq[Listed]): Dataset[PendingDoc] =
    read(spark, files, 512L * 1024 * 1024) { (f, bytes) =>
      Iterator.single(PendingDoc(f.id, "", Seq.empty, 0, f.name, "", bytes))
    }

  /** Record-level WARC source (beyond the reference: the Common Crawl
    * input shape). Reads the files under `root` whose names contain
    * `.warc` and emits one PendingDoc per kept payload (2xx HTTP
    * responses and resource records — see [[graft.extract.Warc.payloads]]):
    * doc_id = `<root-relative path>#<record index>` (stable,
    * resume-friendly), file_name = the WARC-Target-URI (what the
    * classifier routes on), mime_hint = the HTTP Content-Type.
    * Parallelism is file-granular — the standard crawl shape of one task
    * per ~1 GB warc; the flatMap is narrow, so payload bytes never
    * shuffle. */
  def fromWarcs(spark: SparkSession, root: String): Dataset[PendingDoc] =
    warcDocs(spark, list(spark, root).filter(_.name.contains(".warc")))

  /** The payloads of the listed WARC files; the cap is the JVM byte-array
    * ceiling, as a WARC is read into one array. */
  private[graft] def warcDocs(spark: SparkSession,
                              files: Seq[Listed]): Dataset[PendingDoc] =
    read(spark, files, Int.MaxValue.toLong - 8)((f, bytes) => warcPending(f.id, bytes))

  /** The files under `root`, or `root` itself if it is a file, sorted by
    * id, listed on the driver. */
  private[graft] def list(spark: SparkSession, root: String): Seq[Listed] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val top = fs.getFileStatus(rootPath)
    if (!top.isDirectory)
      return Seq(Listed(top.getPath.getName, top.getPath.toUri.toString, top.getLen))
    def walk(dir: String, path: Path): Seq[Listed] =
      fs.listStatus(path).toSeq.filterNot(s => SkipEntries.contains(s.getPath.getName))
        .flatMap { s =>
          val id = if (dir.isEmpty) s.getPath.getName else s"$dir/${s.getPath.getName}"
          if (s.isDirectory) walk(id, s.getPath)
          else Seq(Listed(id, s.getPath.toUri.toString, s.getLen))
        }
    walk("", top.getPath).sortBy(_.id)
  }

  /** Pending documents of the listed `files`: tasks read each file whole
    * and `rows` turns it into documents, except that a file over `cap`
    * becomes one unread [[OversizeMime]] row. The slice count comes from
    * the listing, so building the dataset runs no job. */
  private def read(spark: SparkSession, files: Seq[Listed], cap: Long)(
      rows: (Listed, Array[Byte]) => Iterator[PendingDoc]): Dataset[PendingDoc] = {
    import spark.implicits._
    val sc = spark.sparkContext
    val conf = sc.broadcast(new SerializableWritable(sc.hadoopConfiguration))
    val groups = pack(spark, files, cap)
    spark.createDataset(sc.parallelize(groups, groups.size).flatMap(_.iterator.flatMap { f =>
      if (f.length > cap)
        Iterator.single(PendingDoc(f.id, "", Seq.empty, 0, f.name, OversizeMime,
          Array.empty[Byte]))
      else {
        val path = new Path(new URI(f.path))
        val in = path.getFileSystem(conf.value.value).open(path)
        val bytes = new Array[Byte](f.length.toInt)
        try in.readFully(0L, bytes) finally in.close()
        rows(f, bytes)
      }
    }))
  }

  /** `files` dealt into `Pipeline.partitionCountFor` groups, but no more
    * groups than files: largest first, each onto the group with the fewest
    * bytes so far. So a group holds about its share of the bytes, and a
    * file larger than that share sits alone. A file over `cap` is not
    * read, so it weighs nothing. */
  private[graft] def pack(spark: SparkSession, files: Seq[Listed],
                          cap: Long): Seq[Seq[Listed]] = {
    def weight(f: Listed) = if (f.length > cap) 0L else f.length
    val parts = math.min(math.max(files.size, 1),
      Pipeline.partitionCountFor(spark, files.size, files.iterator.map(weight).sum))
    val groups = Array.fill(parts)(Vector.newBuilder[Listed])
    val lightest = mutable.PriorityQueue((0 until parts).map(i => (0L, i)): _*)(
      Ordering[(Long, Int)].reverse)
    files.sortBy(f => (-weight(f), f.id)).foreach { f =>
      val (bytes, i) = lightest.dequeue()
      groups(i) += f
      lightest.enqueue((bytes + weight(f), i))
    }
    groups.toSeq.map(_.result())
  }

  /** Resolve the root the same way the streaming binaryFile source reports
    * row paths: through the Hadoop FileSystem, so HDFS/S3A/file: roots,
    * trailing slashes, and relative local paths all relativize correctly.
    * binaryFile reports Path.toString form (file:/x); also accept the URI
    * form (file:///x) in case a source reports that instead. */
  private def rootPrefixes(spark: SparkSession, root: String): Seq[String] = {
    val hadoopRoot = new Path(root)
    val fs = hadoopRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(hadoopRoot)
    Seq(qualified.toString, qualified.toUri.toString).map(_.stripSuffix("/"))
  }

  private def relativize(path: String, prefixes: Seq[String]): String = {
    val p = prefixes.find(path.startsWith).fold(path)(path.stripPrefix)
      .stripPrefix("/")
    if (p.isEmpty) path.split('/').last else p
  }

  /** One WARC file → its kept payloads as pending docs (narrow). */
  private def warcPending(rel: String, bytes: Array[Byte]): Iterator[PendingDoc] =
    graft.extract.Warc.payloads(graft.extract.Warc.plainBytes(bytes))
      .iterator.zipWithIndex.map { case ((uri, mime, body), i) =>
        // the Content-Type header is attacker-controlled; a value that
        // collides with an internal dispatch sentinel must not be able
        // to spoof the sentinel's short-circuit path — blank it so the
        // payload classifies by magic bytes
        val safeMime =
          if (mime == OversizeMime ||
              mime == graft.extract.Rar.UnsupportedMemberMime) ""
          else mime
        PendingDoc(s"$rel#$i", "", Seq.empty, 0, uri, safeMime, body)
      }

  /** Streaming variant of [[fromWarcs]]: `.warc` / `.warc.gz` files
    * appearing under `root` become micro-batches of response payloads —
    * the continuous-crawl ingest shape. File discovery is checkpointed by
    * Structured Streaming, so a restarted job resumes at the first
    * unprocessed warc; feed the result to
    * [[graft.streaming.StreamingIngest.extractionQueryToTable]] for
    * atomic per-batch snapshot commits. */
  def streamWarcs(spark: SparkSession, root: String): Dataset[PendingDoc] = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // binaryFile's fixed schema, stated explicitly as file streams require
    val schema = StructType(Seq(
      StructField("path", StringType),
      StructField("modificationTime", TimestampType),
      StructField("length", LongType),
      StructField("content", BinaryType)))
    val prefixes = rootPrefixes(spark, root)
    spark.readStream.format("binaryFile")
      .schema(schema)
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.warc*")
      .load(root)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
      .flatMap { case (path, bytes) => warcPending(relativize(path, prefixes), bytes) }
  }
}
