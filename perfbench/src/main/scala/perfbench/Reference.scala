package perfbench

import graft.classify.Classifier
import graft.core.{ExtractionResult, PendingDoc, SpanOut}
import graft.extract.RawDoc
import graft.pipeline.Dispatch
import scala.collection.mutable
import scala.util.hashing.MurmurHash3

/** Order-insensitive multiset digest: the wrapping sum of 64-bit row
  * hashes plus the row count. Spark computes it per partition and the
  * driver adds the parts, so it never depends on partitioning or order. */
final case class Digest(sum: Long, rows: Long) {
  def +(o: Digest): Digest = Digest(sum + o.sum, rows + o.rows)
}

object Digest {
  val Zero: Digest = Digest(0L, 0L)

  def h64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)

  private def f(v: Any): String = if (v == null) "\u0000" else v.toString

  def spanRow(docId: String, seq: Int, kind: String, text: String,
              mediaRef: String, offset: Int): Long =
    h64(Seq(docId, seq, kind, text, mediaRef, offset).map(f).mkString("\u0001"))

  def metaRow(docId: String, ingestor: String, status: String, depth: Int): Long =
    h64(Seq(docId, ingestor, status, depth).map(f).mkString("\u0001"))

  /** The root input a derived document came from: children are
    * `parent/index`, and root ids carry no `/`. */
  def rootOf(docId: String): String = {
    val i = docId.indexOf('/')
    if (i < 0) docId else docId.substring(0, i)
  }
}

/** Per-root reference outcome: digests of every span and meta row in the
  * root's subtree, with its document and success counts. */
final case class RootRef(spans: Digest, meta: Digest, docs: Long, ok: Long) {
  def +(o: RootRef): RootRef =
    RootRef(spans + o.spans, meta + o.meta, docs + o.docs, ok + o.ok)
}

/** A Spark-free, single-threaded recursive walk over the same inputs the
  * engine sees: classify (`Classifier.auction`), then extract with the
  * `Dispatch.registry` extractor, then recurse into children up to the
  * pipeline's depth bound. It is the output check's reference and the
  * serial baseline, and it times classify and extract apart. */
final class SerialWalk(maxDepth: Int) {
  val perRoot = mutable.HashMap.empty[String, RootRef]
  var docs = 0L
  var failed = 0L
  var classifyNs = 0L
  var extractNs = 0L
  val extractNsBy = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  var wallNs = 0L

  private def isSentinel(p: PendingDoc): Boolean =
    p.mime_hint == graft.extract.Rar.UnsupportedMemberMime ||
      p.mime_hint == graft.sources.Sources.OversizeMime

  private def visit(p: PendingDoc, root: String): Unit = {
    val bytes = if (p.bytes == null) Array.empty[Byte] else p.bytes
    val t0 = System.nanoTime()
    val auction =
      if (isSentinel(p)) None
      else Some(Classifier.auction(p.file_name, p.mime_hint, bytes))
    val t1 = System.nanoTime()
    val (ingestor, res) = auction match {
      case None =>
        val ing = Dispatch.ingest(p.file_name, p.mime_hint, bytes)
        (ing.ingestor, ing.result)
      case Some(Left(err)) => ("", ExtractionResult.failure("Document", err))
      case Some(Right(a)) =>
        Dispatch.registry.get(a.ingestor) match {
          case Some(ex) =>
            (a.ingestor, ex.extract(RawDoc("", p.file_name, a.mimeType, bytes)))
          case None =>
            (a.ingestor, ExtractionResult.failure("Document", "Format not supported"))
        }
    }
    val t2 = System.nanoTime()
    classifyNs += t1 - t0
    extractNs += t2 - t1
    extractNsBy(ingestor) += t2 - t1
    docs += 1
    val ok = res.status == ExtractionResult.Success
    if (!ok) failed += 1
    var sd = Digest.Zero
    res.spans.zipWithIndex.foreach { case (s, i) =>
      sd += Digest(Digest.spanRow(p.doc_id, i, s.kind, s.text, s.media_ref,
        s.offset), 1L)
    }
    val md = Digest(Digest.metaRow(p.doc_id, ingestor, res.status, p.depth), 1L)
    perRoot(root) = perRoot.getOrElse(root, RootRef(Digest.Zero, Digest.Zero, 0L, 0L)) +
      RootRef(sd, md, 1L, if (ok) 1L else 0L)
    if (p.depth + 1 <= maxDepth)
      res.children.zipWithIndex.foreach { case (c, i) =>
        visit(PendingDoc(s"${p.doc_id}/$i", p.doc_id, p.ancestors :+ p.doc_id,
          p.depth + 1, c.file_name, c.mime_hint, c.bytes), root)
      }
  }

  def run(roots: Iterator[PendingDoc]): this.type = {
    val t0 = System.nanoTime()
    roots.foreach(p => visit(p, p.doc_id))
    wallNs += System.nanoTime() - t0
    this
  }
}

/** Engine output digested per root, for comparison with the walk. */
object OutputDigest {
  import org.apache.spark.sql.Dataset

  private def perRoot[T](ds: Dataset[T], key: T => String, h: T => Long)
      : Map[String, Digest] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      val m = mutable.HashMap.empty[String, Digest]
      it.foreach { r =>
        val k = Digest.rootOf(key(r))
        m(k) = m.getOrElse(k, Digest.Zero) + Digest(h(r), 1L)
      }
      Iterator.single(m.iterator.map { case (k, d) => (k, d.sum, d.rows) }.toVector)
    }.collect().iterator.flatten.foldLeft(Map.empty[String, Digest]) {
      case (acc, (k, s, n)) => acc.updated(k, acc.getOrElse(k, Digest.Zero) + Digest(s, n))
    }
  }

  def spans(ds: Dataset[SpanOut]): Map[String, Digest] =
    perRoot[SpanOut](ds, _.doc_id,
      s => Digest.spanRow(s.doc_id, s.seq, s.kind, s.text, s.media_ref, s.offset))

  /** (doc_id, ingestor, status, depth) rows: meta and lineage alike. */
  def meta(ds: Dataset[(String, String, String, Int)]): Map[String, Digest] =
    perRoot[(String, String, String, Int)](ds, _._1,
      m => Digest.metaRow(m._1, m._2, m._3, m._4))

  /** Compare engine digests with the walk over the roots that reached the
    * output. Returns the roots missing from the output; throws on any
    * difference among the roots that are present. */
  def check(what: String, got: Map[String, Digest], ref: SerialWalk,
            pick: RootRef => Digest): Set[String] = {
    val unknown = got.keySet -- ref.perRoot.keySet
    if (unknown.nonEmpty)
      throw new CheckFailed(s"$what: ${unknown.size} roots not in the input, e.g. ${unknown.head}")
    val bad = got.collect { case (k, d) if d != pick(ref.perRoot(k)) => k }
    if (bad.nonEmpty)
      throw new CheckFailed(s"$what: ${bad.size} roots differ from the serial walk, e.g. ${bad.head}")
    // a root whose subtree emits no rows of this kind cannot be seen here
    ref.perRoot.collect { case (k, r) if pick(r).rows > 0 && !got.contains(k) => k }.toSet
  }
}

final class CheckFailed(msg: String) extends RuntimeException(msg)
