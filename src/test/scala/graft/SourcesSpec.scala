package graft

import graft.core.ExtractionResult
import graft.pipeline.Pipeline
import graft.sources.Sources
import java.nio.file.{Files, Path}
import org.apache.spark.ListenerBusDrain.jobsStartedBy
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The file listing and byte reader behind the directory and WARC
  * sources, on temp trees: a zero-byte file arrives, a single-file root
  * lists as itself, slices are packed by file size, and an over-cap file
  * is never read. (PipelineSpec checks which names the
  * walk keeps and prunes.) */
class SourcesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tree(files: (String, String)*): Path = {
    val base = Files.createTempDirectory("graft-sources")
    files.foreach { case (rel, body) =>
      val p = base.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, body.getBytes("UTF-8"))
    }
    base
  }

  test("listing: a zero-byte file arrives and extracts as an Ignore success row") {
    val base = tree("empty.txt" -> "", "a.txt" -> "some text")
    val out = Pipeline.run(spark, Sources.fromDirectory(spark, base.toString))
    val meta = out.meta.collect().map(m => m.doc_id -> m).toMap
    assert(meta.keySet == Set("empty.txt", "a.txt"), meta.keySet)
    assert(meta("empty.txt").ingestor == "IgnoreIngestor")
    assert(meta("empty.txt").processing_status == ExtractionResult.Success)
    out.cleanup()
  }

  test("listing: a root that is a single file lists as itself") {
    val file = tree("dir/one.txt" -> "hello").resolve("dir/one.txt").toString
    assert(Sources.list(spark, file).map(f => (f.id, f.length)) == Seq(("one.txt", 5L)))
    val docs = Sources.fromDirectory(spark, file).collect()
    assert(docs.map(d => (d.doc_id, d.file_name, new String(d.bytes, "UTF-8"))).toSeq ==
      Seq(("one.txt", "one.txt", "hello")))
  }

  test("reader: slices are packed by size, one large file to a slice") {
    // made-up lengths: packing reads nothing
    def listed(id: String, length: Long) = Sources.Listed(id, s"file:/nowhere/$id", length)
    val big = (1 to 4).map(i => listed(s"big$i.bin", 200L << 20))
    val files = big ++ (0 until 40).map(i => listed(f"s$i%02d.txt", 1024L))
    val groups = Sources.pack(spark, files, 512L << 20)
    // 800 MiB of payload asks for more slices than local[4]'s 12 waves
    assert(groups.size ==
      Pipeline.partitionCountFor(spark, files.size, files.map(_.length).sum), groups.size)
    assert(groups.flatten.sortBy(_.id) == files.sortBy(_.id))
    // slicing the id-sorted listing by position put big1..big4 in one slice
    big.foreach(b => assert(groups.contains(Seq(b)), groups))
    assert(groups.forall(_.nonEmpty))
    // never more slices than files: ten 1 GiB WARCs are ten slices of one
    val warcs = (0 until 10).map(i => listed(s"w$i.warc", 1L << 30))
    assert(Sources.pack(spark, warcs, Int.MaxValue.toLong - 8).map(_.size) == Seq.fill(10)(1))
    // an over-cap file weighs nothing; an empty listing is one empty slice
    assert(Sources.pack(spark, Seq(listed("huge.bin", 1L << 40)), 512L << 20) ==
      Seq(Seq(listed("huge.bin", 1L << 40))))
    assert(Sources.pack(spark, Seq.empty, 512L << 20) == Seq(Seq.empty))
  }

  test("reader: an over-cap listed file becomes an unread OversizeMime row") {
    val base = tree("small.txt" -> "small")
    // a made-up 600 MiB entry at a path that does not exist: reading it
    // would fail the job
    val big = Sources.Listed("sub/big.bin", base.resolve("sub/big.bin").toUri.toString,
      600L << 20)
    val (ds, jobs) = jobsStartedBy(spark.sparkContext)(
      Sources.directoryDocs(spark, Sources.list(spark, base.toString) :+ big))
    assert(jobs == 0)
    val docs = ds.collect().sortBy(_.doc_id)
    assert(docs.map(_.doc_id).toSeq == Seq("small.txt", "sub/big.bin"))
    val over = docs(1)
    assert(over.file_name == "big.bin" && over.mime_hint == Sources.OversizeMime &&
      over.bytes.isEmpty)
    val ing = graft.pipeline.Dispatch.ingest(over.file_name, over.mime_hint, over.bytes)
    assert(ing.result.status == ExtractionResult.Failure &&
      ing.result.error.contains("exceeds the per-file size cap"), ing)
  }
}
